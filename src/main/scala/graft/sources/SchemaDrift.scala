package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-drift detection for evolving ingest — the contract layer in
  * front of `Incremental.merge`'s `allowMissingColumns` tolerance:
  * merge HANDLES added/removed columns (nulls fill either side), but
  * a pipeline should KNOW drift happened (new upstream fields are new
  * signal; vanished ones are an upstream regression), and a RETYPED
  * column must never slide through — null-filled unions mask it until
  * a reader casts, which at 100 TB means a quarter of parquet files
  * disagree with the other three quarters about a column's type
  * before anyone notices. (The reference regenerates its flat-table
  * configs from metadata on schedule — reference README.md:246-247 —
  * which is drift handling without a report; this is the report.)
  *
  * Pure driver-side metadata work: schemas are model-sized by
  * definition; nothing touches data.
  */
object SchemaDrift {

  final case class Drift(column: String, status: String,
      oldType: String, newType: String)

  /** Column-level diff of two schemas: added | removed | retyped |
    * unchanged (name-keyed; nested types compare by full DDL string,
    * so a retype ANYWHERE inside a struct/array reports as retyped).
    */
  def compare(old: StructType, incoming: StructType): Seq[Drift] = {
    val o = old.fields.map(f => f.name -> f.dataType.sql).toMap
    val n = incoming.fields.map(f => f.name -> f.dataType.sql).toMap
    val names = (old.fields.map(_.name) ++
      incoming.fields.filterNot(f => o.contains(f.name)).map(_.name)).toSeq
    names.map { c =>
      (o.get(c), n.get(c)) match {
        case (None, Some(t))    => Drift(c, "added", "", t)
        case (Some(t), None)    => Drift(c, "removed", t, "")
        case (Some(a), Some(b)) =>
          Drift(c, if (a == b) "unchanged" else "retyped", a, b)
        case (None, None)       => sys.error("unreachable")
      }
    }
  }

  /** The diff as a frame (col_name, status, old_type, new_type) for
    * report sinks and driver queries.
    */
  def report(spark: SparkSession, old: StructType,
      incoming: StructType): DataFrame = {
    import spark.implicits._
    compare(old, incoming)
      .map(d => (d.column, d.status, d.oldType, d.newType))
      .toDF("col_name", "status", "old_type", "new_type")
  }
}
