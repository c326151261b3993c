package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

import graft.SparkSpec
import graft.sources.CsvJsonIO

/** Drives the CLI lifecycle end-to-end on the reference-shaped
  * fixtures: all four sink families land on disk with the right
  * contents.
  */
class PipelineMainSpec extends SparkSpec {

  test("run(): full, sample, audit and distinct-list sinks written") {
    val out = Files.createTempDirectory("graft_pipe_out").toString
    val base = "src/test/resources/crm"
    PipelineMain.run(spark,
      dataCsv = s"$base/crm.csv",
      stmCsv = s"$base/stm.csv",
      relsCsv = s"$base/religions.csv",
      outDir = out,
      repDataPaths = Seq("Checkbox1" -> s"$base/repdata_checkbox1.csv"),
      emailCol = "Email",
      expectShape = Some((8L, 17)))

    val full = CsvJsonIO.readCsv(spark, s"$out/output")
    assert(full.count() == 6) // 8 rows minus 2 test rows (exempt row kept)
    assert(full.columns.contains("tags"))

    val removed = CsvJsonIO.readCsv(spark, s"$out/deleted_test_rows")
    assert(removed.select("Email").collect().map(_.getString(0)).toSet ==
      Set("dave@x.com", "gus@x.com"))

    val sample = CsvJsonIO.readCsv(spark, s"$out/sample_output")
    assert(sample.count() == 6)

    val lists = new java.io.File(s"$out/custom_fields").listFiles().map(_.getName)
    assert(lists.toSet ==
      Set("Are_you_a_person_of_faith_", "Checkbox1"))

    // merge-audit channel: concat/take rows + per-step counters
    val audit = CsvJsonIO.readCsv(spark, s"$out/merge_audit")
    assert(audit.count() == 3)
    assert(audit.filter(audit("mode") === "concat")
      .select("key").collect().map(_.getString(0)).toSeq == Seq("fay@x.com"))
    val counters = CsvJsonIO.readCsv(spark, s"$out/merge_counters")
      .collect().map(r => (r.getString(2), r.getString(3))).toSet
    assert(counters == Set(("concat", "1"), ("take", "2")))

    // S6 schema-reconciliation report files (main.py:238-247)
    val dataOnly = CsvJsonIO.readCsv(spark, s"$out/cols_in_data_not_meta")
      .collect().map(_.getString(0)).toSeq
    assert(dataOnly == Seq("UnmappedCol"))
    val metaOnly = CsvJsonIO.readCsv(spark, s"$out/cols_in_meta_not_data")
      .collect().map(_.getString(0)).toSeq
    assert(metaOnly == Seq("MetaOnlyCol"))
  }

  test("run(): a failing sink fails the run only after every sink has settled") {
    val out = Files.createTempDirectory("graft_pipe_fail").toString
    // a regular file where the lists' directory belongs: every list
    // write fails while the other sinks are running
    Files.write(Paths.get(out, "custom_fields"), Array.emptyByteArray)
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, Long.MaxValue))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, se) => (se._1, e.time))
    }
    val persistedBefore = sc.getPersistentRDDs.keySet
    val base = "src/test/resources/crm"
    sc.addSparkListener(listener)
    val returned = try {
      intercept[Exception] {
        PipelineMain.run(spark,
          dataCsv = s"$base/crm.csv",
          stmCsv = s"$base/stm.csv",
          relsCsv = s"$base/religions.csv",
          outDir = out,
          repDataPaths = Seq("Checkbox1" -> s"$base/repdata_checkbox1.csv"),
          emailCol = "Email",
          expectShape = None)
      }
      System.currentTimeMillis()
    } finally {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(!jobs.isEmpty)
    jobs.forEach { (id, se) =>
      assert(se._2 <= returned, s"job $id ran on after run() returned")
    }
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a sink job outlived run()")
    assert((sc.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
      "run() left a frame persisted")
  }

  private val paths = Seq("d.csv", "s.csv", "r.csv", "out")

  test("parseArgs: paths, repeated --repdata, email column and shape") {
    val a = PipelineMain.parseArgs(paths ++ Seq("--repdata", "A=a.csv",
      "--expect-shape", "10x297", "--repdata", "B=x=b.csv", "--email-col", "Mail"))
    assert(a == PipelineMain.Args("d.csv", "s.csv", "r.csv", "out",
      Seq("A" -> "a.csv", "B" -> "x=b.csv"), "Mail", Some((10L, 297))))
    assert(PipelineMain.parseArgs(paths) ==
      PipelineMain.Args("d.csv", "s.csv", "r.csv", "out"))
  }

  test("parseArgs: malformed command lines fail with the usage message") {
    Seq(
      Seq("--repdata", "col") -> "--repdata expects col=csvPath",
      Seq("--expect-shape", "10") -> "--expect-shape expects ROWSxCOLS",
      Seq("--expect-shape", "10xten") -> "--expect-shape expects ROWSxCOLS",
      Seq("--email_col", "X") -> "unknown argument '--email_col'",
      Seq("--repdata", "A=a.csv", "--email-col") -> "--email-col needs a value",
      Seq("--email-col", "X", "--email-col", "Y") -> "--email-col given twice",
      Seq("extra") -> "unknown argument 'extra'"
    ).foreach { case (flags, why) =>
      val e = intercept[IllegalArgumentException](PipelineMain.parseArgs(paths ++ flags))
      assert(e.getMessage.contains(why), e.getMessage)
      assert(e.getMessage.contains(PipelineMain.usage))
    }
    val short = intercept[IllegalArgumentException](PipelineMain.parseArgs(paths.take(3)))
    assert(short.getMessage.contains(PipelineMain.usage))
  }
}
