package graft.pipeline

import java.util.UUID
import java.util.concurrent.{ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession

import graft.sources.CsvJsonIO

/** The reference's CLI (`python main.py`, /root/reference/main.py:
  * 650-688) as a Spark application: load metadata snapshots, run the
  * pipeline, write the full/sample/audit/distinct-list sinks, print the
  * per-stage report the reference logs for its human reviewer.
  *
  * The extract is parsed once: its in-scope projection is persisted,
  * and the shape count, the removed rows and the cleaned frame read
  * that copy. Each mapping table is read by one collect.
  *
  * The sinks are independent actions over a few persisted frames.
  * After the removed-rows sink, the rest run concurrently on a small
  * driver thread pool (the output and sample, the merge audit and
  * counters, and each distinct list): a 1,000-row extract is bound by
  * per-job latency, which overlapping jobs hide. The distinct lists are slices of one
  * persisted (list, value) frame, one write job each. The report lines
  * print after every sink has settled, in the reference's order.
  *
  * Usage:
  *   PipelineMain <dataCsv> <stmCsv> <relsCsv> <outDir>
  *     [--repdata col=csvPath ...] [--email-col NAME]
  *     [--expect-shape ROWSxCOLS]
  * An unknown argument, a flag without its value, a malformed value or
  * a repeated flag other than `--repdata` fails with the usage message.
  *
  * E2 (--meta, GSheet fetch) is out of scope (network); its parse stage
  * is `CsvJsonIO.fromJsonRecords`. E3 (--setup) is filesystem prep the
  * caller owns.
  */
object PipelineMain {

  val usage: String =
    "usage: PipelineMain <dataCsv> <stmCsv> <relsCsv> <outDir> " +
      "[--repdata col=csv ...] [--email-col NAME] [--expect-shape RxC]"

  /** The parsed command line. */
  final case class Args(dataCsv: String, stmCsv: String, relsCsv: String,
      outDir: String, repData: Seq[(String, String)] = Seq.empty,
      emailCol: String = "Email", expectShape: Option[(Long, Int)] = None)

  /** Parses the command line: four paths, then flags with one value
    * each. `--repdata` may repeat; the other flags may not. Anything
    * else — a missing or malformed value, an unknown or repeated flag —
    * fails with an `IllegalArgumentException` that names the problem
    * and carries [[usage]].
    */
  def parseArgs(args: Seq[String]): Args = {
    def bad(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$usage")
    if (args.length < 4) bad(s"expected 4 paths, got ${args.length} arguments")
    val Seq(dataCsv, stmCsv, relsCsv, outDir) = args.take(4)
    @tailrec def flags(rest: List[String], seen: Set[String], a: Args): Args =
      rest match {
        case Nil => a
        case f :: _ if f != "--repdata" && seen(f) => bad(s"$f given twice")
        case "--repdata" :: v :: tail => v.split("=", 2) match {
          case Array(c, p) if c.nonEmpty && p.nonEmpty =>
            flags(tail, seen, a.copy(repData = a.repData :+ (c -> p)))
          case _ => bad(s"--repdata expects col=csvPath, got '$v'")
        }
        case "--email-col" :: v :: tail =>
          flags(tail, seen + "--email-col", a.copy(emailCol = v))
        case "--expect-shape" :: v :: tail => v.split("x", 2) match {
          case Array(r, c) if r.toLongOption.nonEmpty && c.toIntOption.nonEmpty =>
            flags(tail, seen + "--expect-shape",
              a.copy(expectShape = Some((r.toLong, c.toInt))))
          case _ => bad(s"--expect-shape expects ROWSxCOLS, got '$v'")
        }
        case f :: Nil if Set("--repdata", "--email-col", "--expect-shape")(f) =>
          bad(s"$f needs a value")
        case f :: _ => bad(s"unknown argument '$f'")
      }
    flags(args.drop(4).toList, Set.empty, Args(dataCsv, stmCsv, relsCsv, outDir))
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
      .appName("graft-crm-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, a.dataCsv, a.stmCsv, a.relsCsv, a.outDir, a.repData,
      a.emailCol, a.expectShape)
    finally spark.stop()
  }

  /** The E1 lifecycle (main.py:654-684), one lazy plan + concurrent
    * sinks. On a sink failure the other sinks' jobs are cancelled, and
    * the failure is rethrown once every sink has settled and the
    * persisted frames are released.
    */
  def run(spark: SparkSession, dataCsv: String, stmCsv: String,
      relsCsv: String, outDir: String, repDataPaths: Seq[(String, String)],
      emailCol: String, expectShape: Option[(Long, Int)]): Unit = {

    def log(s: String): Unit = println(s"[pipeline] $s")

    val data = CrmPipeline.normalizeHeaders(CsvJsonIO.readCsv(spark, dataCsv))
    val stm = Stm.fromDataFrame(CsvJsonIO.readCsv(spark, stmCsv))
    stm.validate()
    // The extract is parsed once: the shape count, the removed rows and
    // the cleaned frame all read this persisted in-scope projection.
    val extract = CrmPipeline.projectInScope(data, stm).persist()
    try {
      expectShape.foreach { case (r, c) =>
        CrmPipeline.assertShape(data, extract, r, c)
        log(s"shape ok: $r x $c")
      }

      // S6 report sinks (main.py:238-247): both column diffs go to CSV
      // files for the human reviewer, not just the log.
      val (dataOnly, metaOnly) = CrmPipeline.reconcileSchema(data, stm)
      if (dataOnly.nonEmpty) log(s"data cols missing from meta: ${dataOnly.mkString(", ")}")
      if (metaOnly.nonEmpty) log(s"meta cols missing from data: ${metaOnly.mkString(", ")}")
      import spark.implicits._
      CsvJsonIO.writeCsv(dataOnly.toDF("column_in_data_not_meta"),
        s"$outDir/cols_in_data_not_meta", single = true)
      CsvJsonIO.writeCsv(metaOnly.toDF("column_in_meta_not_data"),
        s"$outDir/cols_in_meta_not_data", single = true)

      val rels = CsvJsonIO.readCsv(spark, relsCsv)
      val repData = repDataPaths.map { case (c, p) =>
        c -> CsvJsonIO.readCsv(spark, p) }

      val result = CrmPipeline.run(
        data = extract,
        stm = stm,
        testExempt = CrmCleanups.testExemption(data),
        fixes = CrmCleanups.fixes,
        mappings =
          if (data.columns.contains("Are you a person of faith?"))
            Seq(("Are you a person of faith?", rels,
              "Values in Data", "Replacement Values"))
          else Seq.empty,
        emailCol = emailCol,
        repData = repData)
      sink(spark, result, outDir, log)
    } finally extract.unpersist()
  }

  /** Persists what the sinks share, runs the sinks and prints the
    * report; the persisted frames are released once every sink has
    * settled.
    */
  private def sink(spark: SparkSession, result: PipelineResult,
      outDir: String, log: String => Unit): Unit = {
    // Every sink fires at least one action, so persist what they share:
    // the cleaned frame (ancestor of the output, the audit AND the list
    // values — cache substitution serves them all from one
    // materialization), then the frames read twice (written, then
    // counted) and the list values. Order matters: a frame persisted
    // after `cleaned` is planned over its cached copy.
    val cleaned = result.cleaned.persist()
    val output = result.output.persist()
    val removed = result.removedTestRows.persist()
    val values = result.multiChoiceValues.persist()
    val audit = result.mergeAudit
    var auditRows, outputRows = 0L
    try {
      // S10 — audit sink of removed test rows (main.py:290-293). It runs
      // before the others: its CSV scan overlapping the cleaned frame's
      // first materialization raised peak memory by about 7%.
      CsvJsonIO.writeCsv(removed, s"$outDir/deleted_test_rows", single = true)
      val removedRows = removed.count()

      val sinks: Seq[() => Unit] = Seq(
        // S7/S8 — full + sample output (main.py:631-647)
        () => {
          CsvJsonIO.writeCsv(output, s"$outDir/output", single = true)
          CsvJsonIO.writeSample(output, s"$outDir/sample_output",
            output.columns.head)
          outputRows = output.count()
        },
        // Merge-audit channel (main.py:578-628): concat/take rows with
        // the row's email + before/after values, and per-step counters.
        () => {
          audit.persist()
          CsvJsonIO.writeCsv(audit, s"$outDir/merge_audit", single = true)
          CsvJsonIO.writeCsv(CrmPipeline.mergeCounters(audit)
              .orderBy("target", "from_col", "mode"),
            s"$outDir/merge_counters", single = true)
          auditRows = audit.count()
        })
      // S9 — per-column distinct lists (main.py:458-473): their writes
      // join the other sinks on the pool
      runSinks(spark, sinks ++ CsvJsonIO.writeDistinctLists(
        result.multiChoice, s"$outDir/custom_fields"))

      log(s"deleted test rows: $removedRows")
      log(s"multi-choice lists: ${result.multiChoice.map(_._1).mkString(", ")}")
      log(s"merge audit rows: $auditRows")
      log(s"rows out: $outputRows (full + 10k sample by ${output.columns.head})")
    } finally {
      audit.unpersist()
      values.unpersist()
      output.unpersist()
      removed.unpersist()
      cleaned.unpersist()
    }
  }

  /** Runs independent sinks concurrently and returns once every one
    * has settled, so the caller may then release the frames they read.
    * The pool is as wide as the session's default parallelism and is
    * created here, so its threads inherit the caller's Spark local
    * properties (job group, tags, scheduler pool). Every sink job
    * carries one tag; the first failure cancels the jobs with that tag,
    * skips the sinks not yet started, and is rethrown.
    */
  private def runSinks(spark: SparkSession, sinks: Seq[() => Unit]): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-pipeline-sinks-${UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    def fail(e: Throwable): Unit =
      if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
    val pool = Executors.newFixedThreadPool(sc.defaultParallelism)
    try {
      val futures = sinks.map(sink => pool.submit(new Runnable {
        def run(): Unit = if (failure.get() == null) {
          sc.addJobTag(tag)
          try sink() catch { case e: Throwable => fail(e); throw e }
        }
      }))
      futures.foreach { f =>
        var settled = false
        while (!settled) try { f.get(); settled = true } catch {
          case _: ExecutionException => settled = true
          case e: InterruptedException => fail(e)
        }
      }
      Option(failure.get()).foreach(e => throw e)
    } finally pool.shutdown()
  }
}
