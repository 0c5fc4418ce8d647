package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-wise `MERGE INTO`: full SQL merge-statement semantics on plain
  * DataFrames — the lakehouse write primitive (Delta/Iceberg `MERGE`),
  * expressed as ONE full-outer keyed join plus map-side clause logic.
  *
  * Supported clause forms (each with an optional AND-condition):
  *
  *  - `WHEN MATCHED [AND c] THEN DELETE`
  *  - `WHEN MATCHED [AND c] THEN UPDATE SET *`      (source overwrites)
  *  - `WHEN NOT MATCHED [AND c] THEN INSERT *`
  *  - `WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE`
  *
  * Clause precedence follows the SQL statement: for matched rows the
  * DELETE clause is evaluated before UPDATE (first matching clause
  * wins); unmatched clauses keep their only possible action. Conditions
  * may reference both sides' columns via the `t`/`s` aliases the caller
  * receives (matched rows) — unmatched conditions see only the side
  * that exists.
  *
  * Scale shape: the whole statement is one shuffle (the keyed
  * full-outer join); every clause decision is a codegen'd map-side
  * CASE over the joined row — no second pass, no driver loop, no
  * per-clause scans. Feeding the result to [[Sinks.writeVersioned]]
  * gives the transactional form: each MERGE lands as a new snapshot,
  * readable at any prior version (MergeSpec pins that round-trip).
  *
  * Both inputs must share the merge schema (`keys` ++ value columns);
  * like [[Sinks.mergeByKey]], `keys` must be unique per side (enforce
  * upstream with [[Sinks]] compaction or `q_keep_latest` semantics).
  */
object Merge {

  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
                matchedDeleteWhen: Option[Column] = None,
                matchedUpdateWhen: Option[Column] = Some(lit(true)),
                notMatchedInsertWhen: Option[Column] = Some(lit(true)),
                notMatchedBySourceDeleteWhen: Option[Column] = None): DataFrame = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"merge schema mismatch: target ${target.columns.mkString(",")} vs " +
        s"source ${source.columns.mkString(",")}")
    val valueCols = target.columns.filterNot(keys.contains).toSeq

    val t = target.as("t")
    val s = source.as("s")
    val joined = t.join(s, keys.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _), "full_outer")

    // presence flags from the join keys (keys are non-null by contract)
    val matched = col(s"t.${keys.head}").isNotNull && col(s"s.${keys.head}").isNotNull
    val sourceOnly = col(s"t.${keys.head}").isNull

    // SQL MERGE applies a clause only when its condition is TRUE — a
    // NULL condition (e.g. comparing a NULL column) means
    // clause-not-applicable, never clause-applied. Without the coalesce,
    // three-valued logic would let a NULL NOT-MATCHED-BY-SOURCE
    // condition silently DELETE the row (filter drops NULL keeps) and a
    // NULL matched-DELETE condition suppress a due UPDATE.
    def cond(c: Option[Column], default: Boolean): Column =
      c.map(coalesce(_, lit(false))).getOrElse(lit(default))

    // keep-decision per SQL clause precedence (matched: DELETE first)
    val keep =
      when(matched && cond(matchedDeleteWhen, default = false), lit(false))
        .when(matched, lit(true))
        .when(sourceOnly, cond(notMatchedInsertWhen, default = false))
        .otherwise(!cond(notMatchedBySourceDeleteWhen, default = false))

    // value resolution: matched+update → source, matched otherwise →
    // target, source-only → source, target-only → target
    val takeSource =
      (matched && !cond(matchedDeleteWhen, default = false) &&
        cond(matchedUpdateWhen, default = false)) || sourceOnly

    val outCols =
      keys.map(k => coalesce(col(s"t.$k"), col(s"s.$k")).as(k)) ++
        valueCols.map(c =>
          when(takeSource, col(s"s.$c")).otherwise(col(s"t.$c")).as(c))

    joined.filter(keep).select(outCols: _*)
  }

  /** Snapshot diff — the INVERSE of change-apply: given two keyed table
    * states, emit the minimal I/U/D change feed that transforms
    * `before` into `after` (table diff for auditing, replication
    * seeding, or incremental downstream refresh). One keyed full-outer
    * join; unchanged rows are dropped map-side so the feed size tracks
    * the CHANGE volume, not the table volume. Null-safe value
    * comparison (`<=>`): a column flipping to/from NULL is a real
    * update. Emitted values are the after-image for I/U and the
    * before-image for D; PropertySpec pins the round-trip law
    * `apply(diff(A, B), A) == B` (mergeInto for I/U + anti join for D).
    *
    * Like [[mergeInto]], key columns must be non-null and unique per
    * side: a NULL key never equi-joins, so its row would misclassify
    * as an insert on both sides and break the round-trip law.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff needs at least one key column")
    require(before.columns.sorted.sameElements(after.columns.sorted),
      "diff requires identical schemas")
    val valueCols = before.columns.filterNot(keys.contains).toSeq
    val b = before.as("b")
    val a = after.as("a")
    val joined = b.join(a, keys.map(k => col(s"b.$k") === col(s"a.$k"))
      .reduce(_ && _), "full_outer")
    val inBefore = col(s"b.${keys.head}").isNotNull
    val inAfter = col(s"a.${keys.head}").isNotNull
    val changed = valueCols.map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .foldLeft(lit(false))(_ || _)
    val op = when(!inBefore, lit("I"))
      .when(!inAfter, lit("D"))
      .otherwise(lit("U"))
    joined
      .filter(!inBefore || !inAfter || changed)
      .select(keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
        Seq(op.as("op")) ++
        valueCols.map(c =>
          when(inAfter, col(s"a.$c")).otherwise(col(s"b.$c")).as(c)): _*)
  }
}
