package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression kernel: the scalar cleanup functions of the reference
  * pipeline (SURVEY.md §2.8), each a pure `Column => Column` so every
  * composite operator compiles into one Catalyst projection and stays
  * inside whole-stage codegen — no UDFs, no row loops.
  *
  * Reference citations are to /root/reference/main.py.
  */
object CleanFns {

  /** F1 — null→'' fill (main.py:373, 451, 623). */
  def fillEmpty(c: Column): Column = coalesce(c, lit(""))

  /** F2 — frame-wide whitespace normalization: tab/newline/CR → ", "
    * (main.py:376-378; the reference also replaces the *escaped* forms,
    * covered by the literal alternatives below).
    */
  def normalizeWhitespace(c: Column): Column =
    regexp_replace(c, "\\t|\\n|\\r|\\\\t|\\\\n|\\\\r", ", ")

  /** F3 — conditional literal replace: `when(pred, repl) otherwise c`
    * (main.py:381-409, 447-448).
    */
  def replaceWhere(c: Column, pred: Column, repl: Column): Column =
    when(pred, repl).otherwise(c)

  /** Blank a value when it is in a literal fix-up list (P4/F3,
    * main.py:404-406, 447-448).
    */
  def blankIfIn(c: Column, bad: Seq[String]): Column =
    replaceWhere(c, c.isin(bad: _*), lit(""))

  /** F4 — title-case, Spark-built-in flavor: `initcap` capitalizes
    * after whitespace only (`o'neill` → `O'neill`). Kept for callers
    * that want the cheap built-in; the reference's exact semantics are
    * [[pandasTitle]].
    */
  def titleCase(c: Column): Column = initcap(c)

  /** F4 — EXACT pandas `str.title()` (main.py:390-391): capitalization
    * restarts after ANY non-cased character, so `o'neill` → `O'Neill`,
    * `mcdonald-smith` → `Mcdonald-Smith`. Custom codegen'd expression
    * (StringExprs.PandasTitleExpr); this is what the CRM fix list uses.
    */
  def pandasTitle(c: Column): Column = StringExprs.pandasTitle(c)

  /** F6+F7 — the reference's substring date reformat
    * `yyyy-mm-dd...` → `mm/dd/yyyy` (main.py:412-418). Pure string
    * slicing, NOT date parsing: empty input yields the literal "//",
    * malformed input passes through mangled — exactly the reference
    * semantics (SURVEY.md §1.2).
    */
  def dateReformat(c: Column): Column = {
    val s = c.cast("string")
    concat(substring(s, 6, 2), lit("/"), substring(s, 9, 2), lit("/"),
      substring(s, 1, 4))
  }

  /** C3 — merge-with-conditional-concat, the signature operator
    * (main.py:563-623, there an `iterrows` loop; here one expression):
    * if from==to or from=='' keep to; elif to=='' take from;
    * else `to + ", " + from`.
    */
  def mergeConcat(to: Column, from: Column): Column =
    when(from === to || from === "", to)
      .when(to === "", from)
      .otherwise(concat(to, lit(", "), from))

  /** F11 — tag derivation (main.py:491-507): per-row list of tag
    * literals for populated columns, deduplicated, comma-joined.
    * `tagOf` pairs (predicate, tagName); whole thing is one expression
    * chain (array → array_distinct → array_compact → array_join), so it
    * vectorizes across 100 TB with zero driver involvement.
    */
  def tags(tagOf: Seq[(Column, String)]): Column = {
    val entries = tagOf.map { case (populated, tag) =>
      when(populated, lit(tag.trim)).otherwise(lit(null))
    }
    array_join(array_compact(array_distinct(array(entries: _*))), ",")
  }

  /** P2 — populated (not-null, not-empty) predicate (main.py:324,495). */
  def isPopulated(c: Column): Column = c.isNotNull && c =!= ""

  /** P3 — any-column case-insensitive substring predicate
    * (main.py:281-285): true if ANY of `cols` contains `needle`.
    * ONE `contains` over the row's cells joined with NUL: a needle
    * without NUL can only match inside one cell, and NUL is neither
    * cased nor case-ignorable, so lowering the joined string lowers
    * each cell as it would alone (Greek final sigma included). A null
    * cell is skipped by `concat_ws`, so it reads as "no match" and the
    * predicate is never null. One expression instead of a column-wide
    * OR chain keeps the plan small at CRM width (297 columns), negated
    * or not.
    */
  def anyColContains(cols: Seq[Column], needle: String): Column = {
    require(cols.nonEmpty, "anyColContains needs at least one column")
    require(!needle.contains('\u0000'), "the needle must not contain NUL")
    lower(concat_ws("\u0000", cols.map(_.cast("string")): _*))
      .contains(needle.toLowerCase)
  }
}
