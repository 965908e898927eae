package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Engine configuration mirroring the reference's runtime properties
  * (reference README.md:115-140, SURVEY §2.7 T2).
  *
  * @param incrementalMode 0 = full drop/recreate of the analysis
  *                        store, 1 = only add/modify what changed
  *                        (reference README.md:133-134)
  * @param locale          preferred concept-name locale
  *                        (reference README.md:127-128)
  * @param etlIntervalSeconds recurring-run cadence
  *                        (reference README.md:139-140)
  * @param columns         flat-table width cap: an encounter type
  *                        whose column set exceeds this splits into
  *                        continuation tables `t`, `t_1`, … sharing
  *                        `encounter_id` (reference README.md:130-131
  *                        `mambaetl.analysis.columns=40`; README.md:154
  *                        documents the >160-column failure the cap
  *                        exists for). Parquet has no MySQL row-size
  *                        limit, so the Spark-side cap defaults high;
  *                        set 40 to mirror the reference layout
  *                        exactly, or Int.MaxValue to disable.
  * @param automatedFlattening 1 = flatten EVERY encounter type that
  *                        has (non-voided) encounters, no per-type
  *                        config or id list required — the type ids
  *                        are discovered from the encounter table
  *                        (one model-sized distinct) and each gets
  *                        [[graft.operators.Flatten.autoConfig]]
  *                        (reference README.md:136-137
  *                        `mambaetl.analysis.automated_flattening=1`);
  *                        0 = only the explicitly requested ids.
  */
final case class EtlConfig(
    sourceDir: String,
    analysisDir: String,
    incrementalMode: Int = 0,
    locale: String = "en",
    etlIntervalSeconds: Long = 1800L,
    columns: Int = 40,
    automatedFlattening: Int = 0)

/** One flat-table output column: label + which concept feeds it +
  * the concept datatype that picks the typed value_* source column
  * (reference README.md:244-249, SURVEY §1.3).
  */
final case class FlatColumn(label: String, conceptId: Long, datatype: String)

/** Per-encounter-type flat-table schema (reference README.md:244-253;
  * FIXTURES.md flat-config fixture).
  */
final case class FlatTableConfig(
    tableName: String,
    encounterTypeId: Int,
    columns: Seq[FlatColumn]) {

  /** Continuation-table split (reference README.md:130-131,154): when
    * the column set exceeds `maxColumns`, the config splits into
    * `tableName`, `tableName_1`, `tableName_2`, … — each ≤ maxColumns
    * columns in the original order, all keyed by `encounter_id`. A
    * config already within the cap returns itself unchanged, so
    * callers can apply the split unconditionally.
    */
  def split(maxColumns: Int): Seq[FlatTableConfig] = {
    require(maxColumns > 0, s"column cap must be positive, got $maxColumns")
    if (columns.size <= maxColumns) Seq(this)
    else columns.grouped(maxColumns).zipWithIndex.map { case (chunk, i) =>
      FlatTableConfig(
        if (i == 0) tableName else s"${tableName}_$i",
        encounterTypeId, chunk)
    }.toSeq
  }
}

object FlatTableConfig {
  implicit private val formats: Formats = DefaultFormats

  /** The field-metadata keys that tag a flat-table column with its
    * concept (the FIXTURES.md §B config key names).
    */
  private val ConceptIdKey = "concept_id"
  private val DatatypeKey = "datatype"

  /** `column`'s tags: its concept id and datatype. */
  def metadataOf(column: FlatColumn): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ConceptIdKey, column.conceptId)
      .putString(DatatypeKey, column.datatype).build()

  /** The config a flat table's schema carries: one column per field
    * tagged with [[metadataOf]] (as [[graft.operators.Flatten.flattenObs]]
    * writes them), in schema order. A table written without the tags
    * carries no columns.
    */
  def fromSchema(tableName: String, encounterTypeId: Int,
      schema: org.apache.spark.sql.types.StructType): FlatTableConfig =
    FlatTableConfig(tableName, encounterTypeId,
      schema.fields.toSeq.filter(_.metadata.contains(ConceptIdKey)).map(f =>
        FlatColumn(f.name, f.metadata.getLong(ConceptIdKey),
          f.metadata.getString(DatatypeKey))))

  /** Parse the project's JSON flat-config shape (FIXTURES.md §B):
    * {"table_name": ..., "encounter_type_id": ...,
    *  "concepts": [{"label": ..., "concept_id": ..., "datatype": ...}]}
    * Config files are tiny — parsed driver-side (SURVEY §2.1 S4).
    */
  def fromJson(json: String): FlatTableConfig = {
    val j = JsonMethods.parse(json)
    FlatTableConfig(
      tableName = (j \ "table_name").extract[String],
      encounterTypeId = (j \ "encounter_type_id").extract[Int],
      columns = (j \ "concepts").extract[Seq[JValue]].map { c =>
        FlatColumn(
          label = (c \ "label").extract[String],
          conceptId = (c \ "concept_id").extract[Long],
          datatype = (c \ "datatype").extractOrElse[String]("Text"))
      })
  }
}

/** Typed report query parameter — the reference declares SQL types on
  * params ("type": "VARCHAR(255)", reference README.md:297-306).
  */
final case class QueryParam(name: String, sqlType: String)

/** A named parameterized report (reference README.md:290-327). */
final case class ReportDefinition(
    reportName: String,
    reportId: String,
    sqlQuery: String,
    params: Seq[QueryParam])

object ReportDefinition {
  implicit private val formats: Formats = DefaultFormats

  /** Parse a reports.json document — shape verbatim from reference
    * README.md:290-327 (FIXTURES.md reports fixture).
    */
  def parseReports(json: String): Seq[ReportDefinition] = {
    val j = JsonMethods.parse(json)
    (j \ "report_definitions").extract[Seq[JValue]].map { d =>
      ReportDefinition(
        reportName = (d \ "report_name").extract[String],
        reportId = (d \ "report_id").extract[String],
        sqlQuery = (d \ "report_sql" \ "sql_query").extract[String],
        params = (d \ "report_sql" \ "query_params") match {
          case JArray(ps) => ps.map { p =>
            QueryParam(
              (p \ "name").extract[String],
              (p \ "type").extractOrElse[String]("VARCHAR(255)"))
          }
          case _ => Nil
        })
    }
  }
}
