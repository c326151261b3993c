package graft.pipeline

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.functions.CleanFns._
import graft.sources.CsvJsonIO

/** The reference ETL pipeline (/root/reference/main.py, lifecycle E1 —
  * SURVEY.md §3) rebuilt Spark-first: every stage is a lazy DataFrame
  * transformation, so stages E1.4-E1.9 fuse into ONE Catalyst plan with
  * whole-stage codegen; the only shuffles are in sinks that sort. All
  * row loops of the reference (`iterrows`, `apply(axis=1)`) become
  * native expressions.
  *
  * Scale posture (100 TB): mapping tables are collected once and
  * broadcast from the driver (the repeated-data tables as one wide
  * table, so one join); composite column transforms compile to single
  * `select` projections (not hundreds of chained withColumn —
  * quadratic analysis at 297-column width); nothing collects the fact
  * table to the driver.
  */
object CrmPipeline {

  /** Resolve a column by its literal name (`CsvJsonIO.literalCol`). */
  private[pipeline] def qcol(name: String): Column = CsvJsonIO.literalCol(name)

  /** S4 — header normalization: strip embedded newlines from column
    * names before metadata matching (main.py:206-207).
    */
  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.replace("\n", "")): _*)

  /** S5 — exact-shape assertion (main.py:213-222): the columns of
    * `df`, then the rows of `rows`, a projection of `df` (the same rows,
    * fewer columns — the persisted in-scope extract, which this one
    * count() materializes). Fail-fast before any heavy work.
    */
  def assertShape(df: DataFrame, rows: DataFrame, expectedRows: Long,
      expectedCols: Int): Unit = {
    val cols = df.columns.length
    require(cols == expectedCols, s"expected $expectedCols columns, got $cols")
    val n = rows.count()
    require(n == expectedRows, s"expected $expectedRows rows, got $n")
  }

  /** S6/U1 — symmetric schema reconciliation against the STM
    * (main.py:226-247): (data columns missing from meta, meta columns
    * missing from data). Driver-side set diff — schema is metadata.
    */
  def reconcileSchema(df: DataFrame, stm: Stm): (Seq[String], Seq[String]) = {
    val dataCols = df.columns.toSet
    val metaCols = stm.rows.map(_.fullColName).toSet
    (df.columns.filterNot(metaCols).toSeq,
      stm.rows.map(_.fullColName).filterNot(dataCols).toSeq)
  }

  /** P1 — keep only in-scope columns, in STM order (main.py:254-270). */
  def projectInScope(df: DataFrame, stm: Stm): DataFrame =
    df.select(stm.inScopeCols.map(qcol): _*)

  /** P3+J3 — test-row removal (main.py:273-297): a row is test data if
    * ANY column contains "test" case-insensitively (substring — so
    * "latest" matches) AND the exemption predicate holds. Returns
    * (clean, removed) so the caller can audit-sink the removals (S10).
    * One predicate per side, evaluated once per row — the reference's
    * apply(axis=1) + full-frame anti-join collapses to a filter.
    */
  def splitTestRows(df: DataFrame, exempt: Column): (DataFrame, DataFrame) = {
    // coalesce the exemption to false: a NULL exemption cell would make
    // both predicates NULL, and a NULL predicate fails BOTH filters —
    // the row would silently vanish from clean AND removed.
    val exempted = coalesce(exempt, lit(false))
    val isTest = anyColContains(df.columns.toSeq.map(qcol), "test")
    (df.filter(!isTest || exempted), df.filter(isTest && !exempted))
  }

  /** F1+F2 — frame-wide fill + whitespace normalization
    * (main.py:373-378), as one projection over all columns.
    */
  def normalizeAll(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      normalizeWhitespace(fillEmpty(qcol(c))).as(c)): _*)

  /** F3 family — apply per-column conditional fixes; each entry maps a
    * column name to a rewrite of that column (main.py:381-409 shape).
    * Compiled into a single projection.
    */
  def applyFixes(df: DataFrame, fixes: Seq[(String, Column => Column)]): DataFrame = {
    val byCol = fixes.groupBy(_._1)
    df.select(df.columns.map { c =>
      byCol.get(c) match {
        case Some(fs) => fs.map(_._2).foldLeft(qcol(c))((acc, f) => f(acc)).as(c)
        case None => qcol(c)
      }
    }: _*)
  }

  /** J1 — mapping-table join (religion cleanup, main.py:426-433):
    * overwrite `targetCol` with the mapped replacement; unmatched rows
    * are blanked (NaN→'' in the reference, main.py:451). The mapping is
    * collected once (one job), checked unique on its key on the driver
    * (pandas would silently explode rows — SURVEY.md §7.5.4) and
    * broadcast from the collected rows: it is bounded metadata, the
    * fact side never shuffles.
    */
  def applyMapping(df: DataFrame, targetCol: String, mapping: DataFrame,
      mapKey: String, mapVal: String): DataFrame =
    joinCollected(df, targetCol,
      Seq(targetCol -> collectMapping(mapping, mapKey, mapVal)))

  /** J2 — per-column repeated-data cleanup joined on an email key
    * (main.py:436-451): for each dirty column, LEFT JOIN its mapping on
    * Email and REPLACE the column with the mapped value — rows whose
    * email is absent from the mapping get their value BLANKED, not
    * preserved (reference behavior, pinned by spec). Each table is
    * collected once; the tables then join in ONE broadcast join over a
    * wide (key, v_0..v_n) table built on the driver, with the semantics
    * of joining them one after another: a column listed twice takes
    * the later table, a null email matches nothing. An entry for the
    * email column itself re-keys the entries after it, so the fold is
    * split after it (and wherever the key type changes) into one join
    * per part.
    */
  def applyRepData(df: DataFrame, emailCol: String,
      repData: Seq[(String, DataFrame)]): DataFrame = {
    val tables = repData.map { case (c, m) => c -> collectMapping(m, emailCol, c) }
    val parts = tables.foldLeft(Vector.empty[Vector[(String, Collected)]]) {
      case (ps :+ p, e) if p.last._1 != emailCol &&
          p.head._2.keyType == e._2.keyType => ps :+ (p :+ e)
      case (ps, e) => ps :+ Vector(e)
    }
    parts.foldLeft(df)(joinCollected(_, emailCol, _))
  }

  /** A mapping table collected to the driver: its key and value types
    * and, per non-null key, the key as collected and its value.
    */
  private final case class Collected(keyType: DataType, valueType: DataType,
      byKey: collection.Map[Any, (Any, Any)])

  /** Collects `(key, value)` of a mapping table in one job and checks
    * that no non-null key repeats. A null key can never match in the
    * equi-join (null === x is never true), so it cannot explode rows:
    * it is dropped, and does not fail the check.
    */
  private def collectMapping(m: DataFrame, key: String,
      value: String): Collected = {
    val kv = m.select(qcol(key), qcol(value))
    val byKey = mutable.LinkedHashMap.empty[Any, (Any, Any)]
    var total = 0L
    kv.collect().foreach { r =>
      if (!r.isNullAt(0)) {
        total += 1
        byKey(joinKey(r.get(0))) = (r.get(0), r.get(1))
      }
    }
    require(total == byKey.size,
      s"mapping table not unique on '$key' (${byKey.size} distinct of $total non-null keys)")
    Collected(kv.schema(0).dataType, kv.schema(1).dataType, byKey)
  }

  /** A collected key as the equi-join compares it: binary by content,
    * and -0.0 equal to 0.0.
    */
  private def joinKey(k: Any): Any = k match {
    case b: Array[Byte] => b.toSeq
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0.0f => 0.0f
    case other => other
  }

  /** LEFT JOIN `df` on `keyCol` against the tables, all keyed by the
    * same value of `keyCol`, in ONE broadcast join, and replace each
    * table's column (when `df` has it) with its value, blanked where
    * the key is missing from that table. A column listed twice takes
    * the later table.
    */
  private def joinCollected(df: DataFrame, keyCol: String,
      tables: Seq[(String, Collected)]): DataFrame = {
    val last = tables.toMap
    val cols = tables.map(_._1).distinct.filter(df.columns.contains)
    val rows = cols.flatMap(last(_).byKey.keys).distinct.map { k =>
      Row.fromSeq(cols.flatMap(last(_).byKey.get(k)).head._1 +:
        cols.map(c => last(c).byKey.get(k).map(_._2).orNull))
    }
    val schema = StructType(StructField("__k", tables.head._2.keyType) +:
      cols.indices.map(i => StructField(s"__v$i", last(cols(i)).valueType)))
    val wide = broadcast(df.sparkSession.createDataFrame(rows.asJava, schema))
    val slot = cols.zipWithIndex.toMap
    df.join(wide, qcol(keyCol) === wide("__k"), "left")
      .select(df.columns.map(c => slot.get(c) match {
        case Some(i) => fillEmpty(wide(s"__v$i")).as(c)
        case None => qcol(c)
      }): _*)
  }

  /** F11 — tag derivation (main.py:476-511): one ArrayType expression —
    * per populated tag column add its (trimmed) tag, dedup, comma-join.
    */
  def deriveTags(df: DataFrame, stm: Stm): DataFrame =
    df.withColumn("tags",
      tags(stm.tagCols.map { case (c, tag) => (isPopulated(qcol(c)), tag) }))

  /** C1+C3 — the STM compiler, signature operator (main.py:514-628):
    * rename the first source of each target, merge-concat later sources
    * into it (skip when equal or incoming blank; take when target
    * blank; else `to + ", " + from`), drop merged-away sources,
    * fillna('') every target. Emitted as ONE select preserving the
    * reference's column order — per-row work is a folded when/otherwise
    * expression instead of the reference's iterrows loop.
    */
  def mapColumns(df: DataFrame, stm: Stm): DataFrame = {
    stm.validate()
    val present = df.columns.toSet
    val groups = stm.targetGroups
      .map { case (t, srcs) => t -> srcs.filter(present) }
      .filter(_._2.nonEmpty)
    val firstSource = groups.map { case (t, srcs) => srcs.head -> t }.toMap
    val laterSources = groups.flatMap(_._2.drop(1)).toSet
    val cols = df.columns.flatMap {
      case c if laterSources(c) => None // merged into its target, dropped
      case c => firstSource.get(c) match {
        case Some(t) =>
          val srcs = groups.find(_._1 == t).get._2
          val merged = srcs.map(qcol).reduceLeft(mergeConcat)
          Some(fillEmpty(merged).as(t))
        case None => Some(qcol(c))
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** The merge-audit channel (main.py:578-628): the reference logs
    * every concatenation merge with the row's Email plus before/after
    * values, and keeps per-step simple/concat counters for its human
    * reviewer (README.md operator checks). Scale-correct form: a side
    * DataFrame sharing the pre-merge frame's scan — one row per
    * (row, merge step) whose mode isn't a skip, derived by exploding a
    * per-row array of step structs (ONE pass, no per-step rescan).
    *
    * Modes mirror the reference exactly: `skip` (from==to or from
    * blank — not emitted), `take` (target blank → simple merge,
    * main.py:596-598), `concat` (both populated → `to + ", " + from`,
    * main.py:600-612). For multi-source targets the step's `to_val` is
    * the accumulated fold so far, exactly the reference's sequential
    * in-place merges.
    */
  def mergeAudit(df: DataFrame, stm: Stm, keyCol: String): DataFrame = {
    stm.validate()
    val present = df.columns.toSet
    val groups = stm.targetGroups
      .map { case (t, srcs) => t -> srcs.filter(present) }
      .filter(_._2.size > 1)
    val key: Column =
      if (present(keyCol)) qcol(keyCol).cast("string")
      else lit(null).cast("string")
    val steps = groups.flatMap { case (t, srcs) =>
      (1 until srcs.size).map { i =>
        val to = srcs.take(i).map(qcol).reduceLeft(mergeConcat)
        val from = qcol(srcs(i))
        struct(lit(t).as("target"), lit(srcs(i)).as("from_col"),
          from.cast("string").as("from_val"), to.cast("string").as("to_val"),
          mergeConcat(to, from).cast("string").as("merged_val"),
          when(from === to || from === "", "skip")
            .when(to === "", "take").otherwise("concat").as("mode"))
      }
    }
    if (steps.isEmpty)
      df.select(key.as("key"), lit("").as("target"), lit("").as("from_col"),
          lit("").as("from_val"), lit("").as("to_val"),
          lit("").as("merged_val"), lit("").as("mode"))
        .filter(lit(false))
    else
      df.select(key.as("key"), explode(array(steps: _*)).as("s"))
        .select(col("key"), col("s.target").as("target"),
          col("s.from_col").as("from_col"), col("s.from_val").as("from_val"),
          col("s.to_val").as("to_val"), col("s.merged_val").as("merged_val"),
          col("s.mode").as("mode"))
        .filter(col("mode") =!= "skip")
  }

  /** Per-merge-step mode counters (main.py:578-579, 620-621: "N simple
    * merges" / "N concatenation merges") — one partial+final count agg
    * over the audit frame.
    */
  def mergeCounters(audit: DataFrame): DataFrame =
    audit.groupBy("target", "from_col", "mode").agg(count(lit(1)).as("n"))

  /** S9 — the distinct populated values of every Multiple Choice STM
    * column (main.py:458-473) as ONE (list, value) frame: a single scan
    * explodes each row into one (column name, value) pair per list,
    * and one partial+final aggregation dedups them all. The result is a
    * single partition sorted by (list, value), so a per-list slice of
    * it is already in sink order and needs no shuffle of its own.
    * Persist it after its input: persisting it first would plan it
    * against the uncached input.
    */
  def multiChoiceValues(df: DataFrame, stm: Stm): DataFrame = {
    val cols = stm.multiChoiceCols.filter(df.columns.contains)
    val pairs = cols.map(c =>
      struct(lit(c).as("list"), qcol(c).cast("string").as("value")))
    (if (pairs.isEmpty)
      df.select(lit("").as("list"), lit("").as("value")).filter(lit(false))
    else
      df.select(explode(array(pairs: _*)).as("p"))
        .select(col("p.list").as("list"), col("p.value").as("value")))
      .filter(isPopulated(col("value")))
      .distinct()
      // the aggregation stays parallel; only its deduplicated pairs
      // move to the one partition that is then sorted
      .repartition(1)
      .sortWithinPartitions("list", "value")
  }

  /** S9 — the per-column distinct lists, each a slice of
    * `values` (the [[multiChoiceValues]] frame) named after its column.
    * Returns the DataFrames; the caller sinks them.
    */
  def multiChoiceLists(values: DataFrame, stm: Stm,
      columns: Seq[String]): Seq[(String, DataFrame)] =
    stm.multiChoiceCols.filter(columns.contains).map { c =>
      c -> values.filter(col("list") === c).select(col("value").as(c))
    }

  /** E1 — the full default run (main.py:650-684), stages 4-9, as one
    * lazy plan: project → delete test rows → normalize → fixes →
    * mapping joins → tags → rename/merge. Sinks are the caller's.
    * `data` is the raw extract or, as `PipelineMain` passes it, its
    * persisted in-scope projection (projecting again is a no-op). The
    * only jobs it starts are one collect per mapping table.
    */
  def run(
      data: DataFrame,
      stm: Stm,
      testExempt: Column,
      fixes: Seq[(String, Column => Column)],
      mappings: Seq[(String, DataFrame, String, String)],
      emailCol: String,
      repData: Seq[(String, DataFrame)]): PipelineResult = {
    val projected = projectInScope(normalizeHeaders(data), stm)
    val (clean0, removed) = splitTestRows(projected, testExempt)
    val normalized = normalizeAll(clean0)
    val fixed = applyFixes(normalized, fixes)
    val mapped = mappings.foldLeft(fixed) { case (acc, (c, m, k, v)) =>
      applyMapping(acc, c, m, k, v)
    }
    val repaired = applyRepData(mapped, emailCol, repData)
    // S9 runs on the cleaned frame BEFORE rename/merge, as in the
    // reference (E1.7 precedes E1.8/E1.9 — main.py:671-679).
    val values = multiChoiceValues(repaired, stm)
    val lists = multiChoiceLists(values, stm, repaired.columns.toSeq)
    val tagged = deriveTags(repaired, stm)
    val out = mapColumns(tagged, stm)
    val audit = mergeAudit(tagged, stm, emailCol)
    PipelineResult(out, removed, lists, values, repaired, audit)
  }
}

/** Outputs of a pipeline run: the final frame (S7/S8 sinks), the
  * removed test rows (S10 audit sink), the per-column distinct lists
  * (S9 sinks) and the one (list, value) frame they are slices of, the
  * shared cleaned pre-merge frame — the common ancestor of `output`,
  * `multiChoiceValues` and the audit, so callers that fire multiple
  * sink actions should persist THIS frame (Spark's cache substitution
  * then serves all of them from one materialization) — and the
  * merge-audit channel (take/concat rows; counters via
  * `CrmPipeline.mergeCounters`).
  */
final case class PipelineResult(
    output: DataFrame,
    removedTestRows: DataFrame,
    multiChoice: Seq[(String, DataFrame)],
    multiChoiceValues: DataFrame,
    cleaned: DataFrame,
    mergeAudit: DataFrame)
