package graft.pipeline

import java.nio.file.Files

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Not, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.CleanFns.isPopulated
import graft.sources.CsvJsonIO

/** End-to-end pipeline spec over the reference-shaped fixtures
  * (FIXTURES.md §B): pins the exact semantics of
  * /root/reference/main.py — test-row deletion (substring, exemption),
  * the cleanup fix list, religion-map join (unmatched → ''), repData
  * blanking on unmatched email, tag trim+dedup, merge-concat branches,
  * multi-choice distinct lists.
  */
class CrmPipelineSpec extends SparkSpec {

  private def res(name: String): String = s"src/test/resources/crm/$name"

  private def readCsv(path: String, multiLine: Boolean = false): DataFrame = {
    val r = spark.read.option("header", "true")
    (if (multiLine) r.option("multiLine", "true") else r).csv(path)
  }

  private lazy val data = readCsv(res("crm.csv"), multiLine = true)
  private lazy val stm = Stm.fromDataFrame(readCsv(res("stm.csv")))
  private lazy val rels = readCsv(res("religions.csv"))
  private lazy val rep = readCsv(res("repdata_checkbox1.csv"))

  private lazy val result: PipelineResult = CrmPipeline.run(
    data = data,
    stm = stm,
    testExempt = CrmCleanups.testExemption(CrmPipeline.normalizeHeaders(data)),
    fixes = CrmCleanups.fixes,
    mappings = Seq(("Are you a person of faith?", rels,
      "Values in Data", "Replacement Values")),
    emailCol = "Email",
    repData = Seq("Checkbox1" -> rep))

  private lazy val out: Map[String, Map[String, String]] = {
    val cols = result.output.columns
    result.output.collect().map { r =>
      r.getAs[String]("email") ->
        cols.zipWithIndex.map { case (c, i) => c -> r.getString(i) }.toMap
    }.toMap
  }

  test("header normalization strips embedded newlines (main.py:206-207)") {
    assert(CrmPipeline.normalizeHeaders(data).columns.contains("FirstName"))
  }

  test("schema reconciliation reports both directions (main.py:226-247)") {
    val (dataOnly, metaOnly) =
      CrmPipeline.reconcileSchema(CrmPipeline.normalizeHeaders(data), stm)
    assert(dataOnly == Seq("UnmappedCol"))
    assert(metaOnly == Seq("MetaOnlyCol"))
  }

  test("output columns: renamed targets in data order, merged+out-of-scope dropped, tag cols kept") {
    assert(result.output.columns.toSeq == Seq(
      "email", "first_name", "last_name", "address", "city", "zip",
      "phone", "join_date", "religion", "constituency", "org",
      "checkbox1", "Interest", "Newsletter", "tags"))
  }

  test("test rows removed by substring incl. 'LaTeSt'; exemption kept (main.py:281-285)") {
    assert(out.keySet == Set("alice@x.com", "bob@x.com", "carol@x.com",
      "a.murdock@dsl.pipex.com", "fay@x.com", "hana@x.com"))
    val removed = result.removedTestRows.select("Email")
      .collect().map(_.getString(0)).toSet
    assert(removed == Set("dave@x.com", "gus@x.com"))
  }

  test("cleanups: whitespace, commas, addresses, city, zip, phones, org, email typo") {
    val a = out("alice@x.com")
    assert(a("first_name") == "Al, ice")        // tab → ", "
    assert(a("last_name") == "Smith Jones")     // comma stripped
    assert(a("address") == "")                  // ', ' blanked
    assert(a("city") == "London Nw")            // title-cased
    assert(a("zip") == "")                      // '0' blanked
    assert(a("org") == "")                      // 'None' blanked
    val b = out("bob@x.com")
    assert(b("last_name") == "F. Queen, Jr.")   // exempted
    assert(b("city") == "King's Lynn")          // entity fixed, no title
    assert(b("org") == "")                      // 'Na' blanked
    assert(out.contains("a.murdock@dsl.pipex.com")) // typo fixed
  }

  test("date reformat: slicing semantics incl. empty → '//' (main.py:412-418)") {
    assert(out("alice@x.com")("join_date") == "03/05/2018")
    assert(out("bob@x.com")("join_date") == "//")
  }

  test("religion map join: mapped replaced, unmatched blanked (main.py:426-433,451)") {
    assert(out("alice@x.com")("religion") == "Catholic")
    assert(out("carol@x.com")("religion") == "Jewish")
    assert(out("bob@x.com")("religion") == "")   // unknownfaith not in map
    assert(out("fay@x.com")("religion") == "")   // empty not in map
  }

  test("repData join on cleaned email: replaced, unmatched BLANKED (main.py:436-451)") {
    assert(out("alice@x.com")("checkbox1") == "Yes")
    assert(out("bob@x.com")("checkbox1") == "")     // not in mapping → blanked
    assert(out("carol@x.com")("checkbox1") == "No") // replaced though source empty
    assert(out("a.murdock@dsl.pipex.com")("checkbox1") == "Clean") // post-typo-fix key
    assert(out("fay@x.com")("checkbox1") == "Maybe")
  }

  test("merge-concat branches on phone (main.py:563-623)") {
    assert(out("alice@x.com")("phone") == "")            // '999' blanked pre-merge, from ''
    assert(out("bob@x.com")("phone") == "0123")          // equal → skip
    assert(out("carol@x.com")("phone") == "0444")        // to '' → take from
    assert(out("fay@x.com")("phone") == "0111, 0222")    // both → concat
  }

  test("merge-audit channel: exact take/concat rows + per-step counters (main.py:578-628)") {
    val audit = result.mergeAudit
      .select("key", "target", "from_col", "from_val", "to_val", "merged_val", "mode")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), r.getString(6)))
      .toSet
    assert(audit == Set(
      ("carol@x.com", "phone", "Work Phone", "0444", "", "0444", "take"),
      ("a.murdock@dsl.pipex.com", "phone", "Work Phone", "0777", "", "0777", "take"),
      ("fay@x.com", "phone", "Work Phone", "0222", "0111", "0111, 0222", "concat")))
    // skips (alice: from blank; bob: equal; hana: from blank) not emitted
    val counters = CrmPipeline.mergeCounters(result.mergeAudit)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(counters == Set(
      ("phone", "Work Phone", "take", 2L),
      ("phone", "Work Phone", "concat", 1L)))
  }

  test("tags: trimmed, deduped across columns, comma-joined (main.py:491-507)") {
    assert(out("alice@x.com")("tags") == "interested")
    assert(out("carol@x.com")("tags") == "interested")  // two tag cols, one tag
    assert(out("hana@x.com")("tags") == "interested")
    assert(out("bob@x.com")("tags") == "")
  }

  test("multi-choice distinct lists on cleaned pre-rename frame (main.py:458-473)") {
    val lists = result.multiChoice.toMap
    assert(lists.keySet == Set("Are you a person of faith?", "Checkbox1"))
    val rel = lists("Are you a person of faith?")
      .collect().map(_.getString(0)).toSet
    assert(rel == Set("Catholic", "Jewish"))
    val cb = lists("Checkbox1").collect().map(_.getString(0)).toSet
    assert(cb == Set("Yes", "No", "Clean", "Maybe"))
  }

  test("mapping table with duplicate keys is rejected (SURVEY §7.5.4)") {
    import spark.implicits._
    val dup = Seq(("a", "1"), ("a", "2")).toDF("Values in Data", "Replacement Values")
    val df = Seq(("a")).toDF("c")
    assertThrows[IllegalArgumentException] {
      CrmPipeline.applyMapping(df, "c", dup, "Values in Data", "Replacement Values")
    }
  }

  test("duplicate non-null keys fail both mapping kinds; null keys are accepted") {
    import spark.implicits._
    val df = Seq(("a", "x"), (null, "y")).toDF("Email", "v")
    val dup = Seq(("a", "1"), ("b", "2"), ("a", "3"), (null, "4")).toDF("Email", "v")
    val msg = "mapping table not unique on 'Email' (2 distinct of 3 non-null keys)"
    val e1 = intercept[IllegalArgumentException] {
      CrmPipeline.applyMapping(df, "v", dup, "Email", "v") }
    val e2 = intercept[IllegalArgumentException] {
      CrmPipeline.applyRepData(df, "Email", Seq("v" -> dup)) }
    assert(e1.getMessage.contains(msg) && e2.getMessage.contains(msg))
    val nulls = Seq(("a", "1"), (null, "2"), (null, "3")).toDF("Email", "v")
    val mapped = CrmPipeline.applyMapping(df, "Email", nulls, "Email", "v")
      .as[(String, String)].collect().toSeq
    assert(mapped.sortBy(_._2) == Seq(("1", "x"), ("", "y")))
    val repaired = CrmPipeline.applyRepData(df, "Email", Seq("v" -> nulls))
      .as[(String, String)].collect().toSeq
    assert(repaired.sortBy(_._2) == Seq((null, ""), ("a", "1")))
  }

  /** Reference for `applyRepData`: one broadcast LEFT JOIN per entry,
    * in order, each replacing its column with the mapped value ('' when
    * unmatched). */
  private def foldRepData(df: DataFrame, emailCol: String,
      repData: Seq[(String, DataFrame)]): DataFrame =
    repData.foldLeft(df) { case (acc, (c, m)) =>
      val mm = broadcast(m.select(col(emailCol).as("__k"), col(c).as("__v")))
      acc.join(mm, col(emailCol) === mm("__k"), "left")
        .select(acc.columns.map {
          case `c` => coalesce(mm("__v"), lit("")).as(c)
          case other => col(other)
        }: _*)
    }

  test("repeated-data tables join in one pass with the semantics of the sequential fold") {
    import spark.implicits._
    val df = Seq((1, "e1", "a1", "b1", "c1"), (2, "e2", "a2", "b2", "c2"),
      (3, "e3", "a3", "b3", "c3"), (4, null, "a4", "b4", "c4"),
      (5, "e5", "a5", "b5", "c5"))
      .toDF("id", "Email", "a", "b", "c")
    def table(c: String, kv: (String, String)*) = kv.toDF("Email", c)
    val repData = Seq(
      "a" -> table("a", "e1" -> "A1", "e2" -> null, (null, "AN")), // e3, e5 missing
      "b" -> table("b", "e1" -> "B1", "e3" -> "B3"),
      "zz" -> table("zz", "e1" -> "Z"),                             // not in df
      "b" -> table("b", "e2" -> "B2", "e3" -> "B3'"),               // b again: later wins
      // keyed on the email column itself: emails it lacks become ''
      "Email" -> Seq("e1", "e2", "e5", "").toDF("Email"),
      "c" -> table("c", "e1" -> "C1", "e3" -> "C3", "" -> "C-blank"),
      "Email" -> Seq("e1").toDF("Email"),
      "a" -> table("a", "e1" -> "A1'", "" -> "A-blank"))
    def rows(f: DataFrame) = f.orderBy("id").collect().toSeq
    val got = CrmPipeline.applyRepData(df, "Email", repData)
    assert(got.columns.toSeq == df.columns.toSeq)
    val want = foldRepData(df, "Email", repData)
    assert(rows(got) == rows(want))
    // the cases are exercised: b takes its later table (e1 missing
    // there → blank) and the null email matches nothing; the email
    // entry blanks e3 and the null email, which then pick up the ''
    // entries of c
    assert(rows(want).map(_.getString(3)) == Seq("", "B2", "B3'", "", ""))
    assert(rows(want).map(_.getString(4)) == Seq("C1", "", "C-blank", "C-blank", ""))
    // tables keyed by different types are not merged into one key column
    val nums = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val typed = Seq(
      "v" -> Seq((1L, "one")).toDF("k", "v"),
      "v" -> Seq((2, "two")).toDF("k", "v"))
    assert(rows(CrmPipeline.applyRepData(nums, "k", typed).withColumnRenamed("k", "id")) ==
      rows(foldRepData(nums, "k", typed).withColumnRenamed("k", "id")))
  }

  test("11 repeated-data tables: one collect job per mapping table, at most 2 joins") {
    val cols = Seq("Checkbox1", "Interest", "Newsletter", "Zip", "City",
      "Address 1", "Home Phone", "Work Phone", "Join Date", "Last Name",
      "Parliamentary Constituency (U.K.)")
    val repData = cols.map(c => c ->
      readCsv(res("repdata_checkbox1.csv")).select(col("Email"), col("Checkbox1").as(c)))
    val exempt = CrmCleanups.testExemption(CrmPipeline.normalizeHeaders(data))
    val (stm0, rels0) = (stm, rels) // their header reads are not the run's jobs
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    val r = try {
      val r = CrmPipeline.run(data, stm0, exempt, CrmCleanups.fixes,
        Seq(("Are you a person of faith?", rels0, "Values in Data", "Replacement Values")),
        "Email", repData)
      ListenerBusAccess.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() <= 1 + repData.size, s"${jobs.get()} jobs for 12 mapping tables")
    val joins = r.cleaned.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size <= 2, s"${joins.size} joins in the cleaned plan")
    assert(r.output.count() == 6)
  }

  test("in-scope STM row with no target and not a tag is a hard error (main.py:530-534)") {
    val bad = Stm(Seq(StmRow("x", inScope = true, target = "", isTag = false,
      tagName = "", customFieldType = "")))
    assertThrows[IllegalArgumentException] {
      import spark.implicits._
      CrmPipeline.mapColumns(Seq("v").toDF("x"), bad)
    }
  }

  test("splitTestRows: null exemption cell must not make rows vanish") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some("Southampton, Test"), "a"), // exempt → kept
      (None, "contains test here"),     // null exemption col, is test → removed
      (None, "clean")                   // null exemption col, clean → kept
    ).toDF("const", "v")
    val (clean, removed) = CrmPipeline.splitTestRows(df,
      col("const") === "Southampton, Test")
    assert(clean.count() + removed.count() == 3,
      "a row vanished from both clean and removed")
    assert(removed.select("v").as[String].collect().toSeq ==
      Seq("contains test here"))
  }

  test("splitTestRows: the optimized keep filter has no NOT over an OR (256 columns)") {
    // distinct per-column expressions, so no rule can merge the terms
    val df = spark.range(3).select((0 until 256).map(i =>
      (col("id") + i).cast("string").as(s"c$i")): _*)
    val (clean, _) = CrmPipeline.splitTestRows(df, col("c0") === "7")
    val conds = clean.queryExecution.optimizedPlan.collect {
      case f: Filter => f.condition }
    assert(conds.nonEmpty)
    val notOverOr = conds.flatMap(_.collect { case n @ Not(_: Or) => n })
    assert(notOverOr.isEmpty,
      s"${notOverOr.size} NOT-over-OR nodes left: the optimizer hit its iteration cap")
  }

  test("shared-frame lists equal per-column distinct().orderBy(); each file is sorted") {
    import spark.implicits._
    val vals = Array(null, "", "b", "a", "B", "a b", "z", "10", "9")
    val rnd = new scala.util.Random(11)
    def pick(): String = vals(rnd.nextInt(vals.length))
    val cols = Seq("Pick one?", "Pick two", "plain")
    val df = Seq.fill(400)((pick(), pick(), pick())).toDF(cols: _*).repartition(4)
    assert(df.rdd.getNumPartitions > 1)
    val stm = Stm(cols.map(c => StmRow(c, inScope = true, target = c,
      isTag = false, tagName = "",
      customFieldType = if (c == "plain") "" else "Multiple Choice")))
    val lists = CrmPipeline.multiChoiceLists(
      CrmPipeline.multiChoiceValues(df, stm), stm, df.columns.toSeq)
    assert(lists.map(_._1) == Seq("Pick one?", "Pick two"))
    val want = lists.map { case (c, _) =>
      c -> df.select(CrmPipeline.qcol(c)).filter(isPopulated(CrmPipeline.qcol(c)))
        .distinct().orderBy(CrmPipeline.qcol(c)).as[String].collect().toSeq
    }.toMap
    lists.foreach { case (c, l) =>
      assert(l.columns.toSeq == Seq(c))
      assert(l.as[String].collect().toSeq == want(c))
    }
    val dir = Files.createTempDirectory("graft_lists").toString
    CsvJsonIO.writeDistinctLists(lists, dir).foreach(_())
    Seq("Pick_one_" -> "Pick one?", "Pick_two" -> "Pick two").foreach {
      case (safe, c) =>
        val parts = new java.io.File(s"$dir/$safe").listFiles()
          .filter(_.getName.startsWith("part-"))
        assert(parts.length == 1)
        val lines = scala.io.Source.fromFile(parts.head, "UTF-8").getLines().toSeq
        assert(lines.head == c)
        assert(lines.tail == lines.tail.sorted, s"$safe is not sorted")
        assert(lines.tail == want(c))
    }
  }
}
