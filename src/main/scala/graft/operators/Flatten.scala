package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{FlatColumn, FlatTableConfig}

/** The reference's core operator: transpose ("flatten") a long EAV
  * table into one wide row per entity, one column per attribute
  * (reference README.md:7-12, README.md:244-253 — `obs` →
  * `mamba_flat_encounter_<type>`).
  *
  * Spark-first design decisions (SURVEY §2.4 A3, §4):
  *
  *  - '''Explicit labels, conditional aggregation.''' The column set
  *    comes from config (or a metadata scan — [[autoConfig]]), never
  *    from `pivot()`'s implicit distinct-scan of the fact table. Each
  *    output column is `max(when(attr === k, value))`: a declarative,
  *    whole-stage-codegen'd aggregate — ONE shuffle by the entity key,
  *    map-side partial aggregation for free. At 100 TB this is the
  *    plan you want: no extra pass over `obs`, no driver-side label
  *    collection from the big table.
  *  - '''Deterministic collision rule.''' The reference doesn't
  *    document which obs wins when an encounter has two values for one
  *    concept (SURVEY §7.5); we define latest-`obs_datetime` (tie:
  *    highest id) via a `row_number` window. The input is hash
  *    partitioned by `entity` before the window: that one exchange
  *    clusters both the window's `(entity, attr)` and the aggregate's
  *    `entity`, so window+agg run behind a single shuffle. Left to the
  *    planner, the window would shuffle by `(entity, attr)` and the
  *    aggregate by `entity` again.
  *  - '''Width cap is opt-in, not structural.''' MySQL's row-width cap
  *    (reference README.md:130-131,154) doesn't exist in columnar
  *    Parquet, so the default path emits one wide table (SURVEY §1.4);
  *    [[flattenObsSplit]] implements the reference's
  *    `mambaetl.analysis.columns` continuation-table layout for
  *    deployments that mirror it ([[graft.model.EtlConfig.columns]]).
  */
object Flatten {

  /** Generic pivot-latest: one row per `entityCol`, one column per
    * requested label; on (entity, attr) collisions the row that sorts
    * first by `tieBreak` wins.
    *
    * @param labels   (outputLabel, attrKeyValue, valueColumn) triples;
    *                 the value column may differ per label (typed EAV
    *                 value_* columns, SURVEY §1.3).
    * @param tieBreak descending-priority ordering; pass Nil when the
    *                 input is already unique per (entity, attr) to
    *                 skip the window pass entirely. Otherwise the input
    *                 is repartitioned by `entityCol` once, and the
    *                 window and the aggregate share that exchange.
    */
  def pivotLatest(
      eav: DataFrame,
      entityCol: String,
      attrCol: String,
      labels: Seq[(String, Any, Column)],
      tieBreak: Seq[Column]): DataFrame = {
    val relevant = eav.filter(
      col(attrCol).isin(labels.map(_._2): _*))
    val deduped =
      if (tieBreak.isEmpty) relevant
      else {
        val w = Window.partitionBy(col(entityCol), col(attrCol))
          .orderBy(tieBreak: _*)
        relevant.repartition(col(entityCol))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    val aggs = labels.map { case (label, key, value) =>
      max(when(col(attrCol) === lit(key), value)).as(label)
    }
    deduped.groupBy(col(entityCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** OpenMRS-shaped flattening: `obs` EAV → `mamba_flat_encounter_*`
    * per a [[FlatTableConfig]] (reference README.md:244-253). Voided
    * rows are dropped first (SURVEY §2.2 P6) so they never reach the
    * shuffle.
    */
  def flattenObs(obs: DataFrame, config: FlatTableConfig): DataFrame = {
    val labels = config.columns.map { c =>
      (c.label, c.conceptId: Any, valueColumnFor(c.datatype))
    }
    pivotLatest(
      obs.filter(col("voided") === 0),
      entityCol = "encounter_id",
      attrCol = "concept_id",
      labels = labels,
      tieBreak = Seq(col("obs_datetime").desc, col("obs_id").desc))
  }

  /** Width-capped flattening — the reference's
    * `mambaetl.analysis.columns` continuation-table layout (reference
    * README.md:130-131: wide encounter types split at the cap;
    * README.md:154: the >160-column hard failure the cap prevents).
    * One `(tableName, wide rows)` pair per continuation table, all
    * keyed by `encounter_id` in the SAME order as the config, so
    * `t ⋈ t_1 ⋈ …` on the key losslessly reconstructs the unsplit
    * [[flattenObs]] output (spec-pinned).
    *
    * Key-set invariant: every continuation table carries the SAME
    * encounter set as the unsplit table — an encounter whose only
    * obs land in other chunks still gets an (all-null) row here,
    * because a vertical partition that drops rows isn't a partition
    * (the rejoin above would silently lose those encounters). Each
    * chunk pivot is left-joined onto the full config's key set.
    *
    * Scale shape — chunked pivots, NOT pivot-once-project-N: separate
    * table writes are separate Spark jobs, and jobs don't share plan
    * results, so a shared full-width pivot would re-execute per table
    * (or force a corpus-sized cache). Instead each chunk runs its own
    * [[flattenObs]], whose `concept_id IN (chunk)` filter sits BEFORE
    * the shuffle: every obs row belongs to exactly one chunk, so the
    * total shuffled volume across all chunks ≈ the unsplit pivot's
    * plus one key-column distinct per chunk; keys, pivot, and join all
    * hash-partition by `encounter_id`, so the join adds no exchange.
    */
  def flattenObsSplit(
      obs: DataFrame, config: FlatTableConfig,
      maxColumns: Int): Seq[(String, DataFrame)] = {
    val chunks = config.split(maxColumns)
    if (chunks.size == 1) Seq(config.tableName -> flattenObs(obs, config))
    else {
      val keys = obs.filter(col("voided") === 0 &&
          col("concept_id").isin(config.columns.map(_.conceptId): _*))
        .select("encounter_id").distinct()
      chunks.map(c =>
        c.tableName -> keys.join(flattenObs(obs, c),
          Seq("encounter_id"), "left"))
    }
  }

  /** Concept datatype → which typed obs value_* column carries the
    * value (SURVEY §1.3 "Column types follow the source concept
    * datatype").
    */
  def valueColumnFor(datatype: String): Column = datatype match {
    case "Numeric"  => col("value_numeric")
    case "Datetime" => col("value_datetime")
    case "Coded"    => col("value_coded")
    case "Boolean"  => col("value_numeric") === 1.0
    case _          => col("value_text")
  }

  /** Auto-generate a flat-table config from concept metadata when the
    * implementer supplied none — the reference "will automatically
    * generate these config files, one for each Encounter type"
    * (reference README.md:246-247). The concept dim is small: the
    * distinct scan runs over `obs` restricted to the encounter type,
    * then a broadcast join resolves names; only the tiny label list is
    * collected to the driver.
    *
    * `locale` implements the reference's "preferred concepts locale"
    * (reference README.md:127-128): concept names are localized rows,
    * and the flat column labels come from the configured locale's
    * name. Ignored when the concept dim carries no locale column.
    */
  def autoConfig(
      obs: DataFrame,
      encounters: DataFrame,
      concepts: DataFrame,
      encounterTypeId: Int,
      tableNamePrefix: String = "mamba_flat_encounter_",
      locale: Option[String] = None): FlatTableConfig = {
    val conceptDim = locale match {
      case Some(l) if concepts.columns.contains("locale") =>
        concepts.filter(col("locale") === l)
      case _ => concepts
    }
    val encIds = encounters
      .filter(col("encounter_type") === encounterTypeId && col("voided") === 0)
      .select("encounter_id")
    val usedConcepts = obs.filter(col("voided") === 0)
      .join(encIds, Seq("encounter_id"), "left_semi")
      .select("concept_id").distinct()
    val cols = ModelCollect.bounded(
      usedConcepts
        .join(broadcast(conceptDim), Seq("concept_id"))
        .select(col("concept_id"), col("name"), col("datatype")),
      ModelCollect.MaxModelRows, "flatten concept columns")
      .map { r =>
        FlatColumn(
          label = r.getString(1).toLowerCase.replaceAll("[^a-z0-9]+", "_"),
          conceptId = r.getLong(0),
          datatype = r.getString(2))
      }
      .sortBy(_.label).toSeq
    FlatTableConfig(s"$tableNamePrefix$encounterTypeId", encounterTypeId, cols)
  }
}
