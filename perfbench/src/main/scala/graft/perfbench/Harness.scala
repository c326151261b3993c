package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, HeavyPersist, SparkEntry}
import graft.pipeline.PipelineMain

/** One benchmark run in one JVM: build the session, run the untimed
  * output-check pass (which doubles as the warm-up round; query
  * workloads only), then run timed rounds until `--seconds` have passed. Every operation of a round runs once, in a
  * seeded shuffled order, one after the other (a closed loop with one
  * client). Raw timings, check results and, in a traced run, listener
  * records are written as JSON to `--out`; `perfbench/run.py` turns
  * them into metrics.
  *
  * Arguments (all `--key value`):
  *   kind      `queries` (ops are inventory query names) or `pipeline`
  *   ops       comma-separated query names (queries only)
  *   data      parquet table directory (queries) or CRM input directory
  *   seed, seconds, trace (0 or 1), work (scratch dir), out (JSON file)
  *   limit     seconds from process start after which no round starts
  */
object Harness {

  // Epoch milliseconds with sub-millisecond resolution, on the same
  // scale as the timestamps in Spark's listener events.
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class OpRec(round: Int, traced: Boolean, name: String,
      start: Double, split: Double, end: Double, error: String,
      cachedPeak: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val kind = a("kind")
    val dataDir = a("data")
    val work = Paths.get(a("work"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val ops: Seq[String] =
      if (kind == "pipeline") Seq("pipeline_run")
      else a("ops").split(",").toSeq.filter(_.nonEmpty)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (if (kind == "queries") Bench.initialShufflePartitions(dataDir, cores)
         else cores).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionReady = now()
    val json = new Json

    val pipeline = if (kind == "pipeline") Some(new PipelineOp(dataDir)) else None

    def resetStorage(): Unit = {
      HeavyPersist.clear(spark)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def cachedBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    // Query workloads: an untimed output-check pass that is also the
    // warm-up round (codegen, class loading, footer reads), charged to
    // set-up time. The pipeline gets no warm-up: every PipelineMain
    // invocation is a fresh JVM, so its timed rounds start cold and the
    // first round's output is the one checked.
    val checks = mutable.LinkedHashMap.empty[String, Either[String, (Long, String)]]
    if (pipeline.isEmpty) {
      ops.foreach { n =>
        resetStorage()
        checks(n) = try Right(checkQuery(spark, n, dataDir))
          catch { case NonFatal(e) => Left(errText(e)) }
      }
      resetStorage()
      spark.range(10).write.format("noop").mode("overwrite").save()
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val records = mutable.ArrayBuffer.empty[OpRec]
    val roundHashes = mutable.ArrayBuffer.empty[(Int, String)]
    val timedStart = now()
    var round = 0
    // A traced run alternates traced and untraced rounds, so the tracing
    // overhead is measured within one process. The pipeline's traced
    // round is its cold first round, the one `--trace 0` measures; a warm
    // untraced and a warm traced round follow for the overhead if they
    // fit. A round beyond the mandatory ones starts only if, at the mean
    // round time so far, it ends within `--limit` seconds of process start.
    val (mandatory, wanted) =
      if (!traced) (1, 1) else if (pipeline.isEmpty) (2, 2) else (1, 3)
    def isTraced(r: Int): Boolean =
      traced && (if (pipeline.isEmpty) r % 2 == 1 else r % 2 == 0)
    val limitMs = a("limit").toDouble * 1e3
    def moreRounds: Boolean = round < mandatory || {
      val elapsed = now() - timedStart
      now() - epoch0 + elapsed / round < limitMs &&
        (round < wanted || elapsed < seconds * 1e3)
    }
    while (moreRounds) {
      val tracedRound = isTraced(round)
      if (tracedRound) tracer.foreach(_.attach())
      val order = new scala.util.Random(seed * 1000003L + round).shuffle(ops)
      val roundDir = work.resolve(s"round$round")
      order.foreach { n =>
        resetStorage()
        sc.setLocalProperty("perfbench.op", s"$round:$n")
        var peak = 0L
        val t0 = now()
        var split = t0
        val err = try {
          pipeline match {
            case Some(p) =>
              p.run(spark, roundDir)
              split = now()
            case None =>
              val df = SparkEntry.queries(n)(spark, dataDir)
              split = now()
              if (tracedRound) {
                peak = cachedBytes()
                tracer.foreach(_.constructed(df.queryExecution))
              }
              df.write.format("noop").mode("overwrite").save()
          }
          ""
        } catch { case NonFatal(e) => errText(e) }
        val t1 = now()
        if (tracedRound) peak = math.max(peak, cachedBytes())
        sc.setLocalProperty("perfbench.op", null)
        records += OpRec(round, tracedRound, n, t0, split, t1, err, peak)
      }
      pipeline.foreach { p =>
        val hash = try Right((-1L, p.outputHash(roundDir)))
          catch { case NonFatal(e) => Left(errText(e)) }
        if (round == 0) {
          checks("pipeline_run") = records.last.error match {
            case "" => hash
            case err => Left(err)
          }
          if (Files.exists(roundDir)) Files.move(roundDir, work.resolve("check"))
        } else {
          roundHashes += round -> hash.fold(identity, _._2)
          deleteRecursively(roundDir)
        }
      }
      // streaming scratch a replay left behind
      Option(work.resolve("tmp").toFile.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_replay"))
        .foreach(f => deleteRecursively(f.toPath))
      if (tracedRound) tracer.foreach(_.detach())
      round += 1
    }
    resetStorage()

    val out = new StringBuilder
    out ++= "{"
    out ++= json.field("cores", cores) ++ ","
    out ++= json.field("session_ready_ms", sessionReady) ++ ","
    out ++= json.field("timed_start_ms", timedStart) ++ ","
    out ++= json.field("vm_hwm_kb", vmHwmKb()) ++ ","
    out ++= "\"checks\":" + json.obj(checks.toSeq.map {
      case (n, Right((rows, hash))) =>
        n -> json.obj(Seq("rows" -> rows.toString, "hash" -> json.str(hash)))
      case (n, Left(err)) => n -> json.obj(Seq("error" -> json.str(err)))
    }) + ","
    out ++= "\"round_hashes\":" + json.arr(roundHashes.toSeq.map { case (r, h) =>
      json.obj(Seq("round" -> r.toString, "hash" -> json.str(h))) }) + ","
    out ++= "\"ops\":" + json.arr(records.toSeq.map { r =>
      json.obj(Seq("round" -> r.round.toString, "traced" -> r.traced.toString,
        "name" -> json.str(r.name), "start" -> json.num(r.start),
        "split" -> json.num(r.split), "end" -> json.num(r.end),
        "error" -> json.str(r.error), "cached_peak" -> r.cachedPeak.toString))
    })
    tracer.foreach(t => out ++= "," + t.toJson(json))
    out ++= "}"
    Files.write(Paths.get(a("out")), out.toString.getBytes("UTF-8"))
    spark.stop()
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Row count and an order-sensitive SHA-256 over the rows of a query's
    * full result (schema first, then each row's text form).
    */
  def checkQuery(spark: SparkSession, name: String,
      dataDir: String): (Long, String) = {
    val df = SparkEntry.queries(name)(spark, dataDir)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fieldNames.mkString(",").getBytes("UTF-8"))
    val rows = df.collect()
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    (rows.length.toLong, hex(md.digest()))
  }

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.reverse.foreach(Files.deleteIfExists)
    }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** One `PipelineMain.run` over a generated CRM extract. The input
    * directory holds `data.csv`, `stm.csv`, `religions.csv` and
    * `manifest.tsv`: a `shape` line (rows, columns) and one `repdata`
    * line (column, csv file name) per repeated-data table.
    */
  final class PipelineOp(dir: String) {
    private val manifest = scala.io.Source
      .fromFile(s"$dir/manifest.tsv", "UTF-8").getLines().map(_.split("\t")).toSeq
    private val shape = manifest.collectFirst { case Array("shape", r, c) =>
      (r.toLong, c.toInt) }
    private val repData = manifest.collect { case Array("repdata", c, f) =>
      c -> s"$dir/$f" }

    def run(spark: SparkSession, outDir: Path): Unit =
      PipelineMain.run(spark, s"$dir/data.csv", s"$dir/stm.csv",
        s"$dir/religions.csv", outDir.toString, repData, "Email", shape)

    /** SHA-256 of the full-output CSV (its single part file). */
    def outputHash(outDir: Path): String = {
      val parts = Option(outDir.resolve("output").toFile.listFiles()).toSeq
        .flatten.filter(f => f.getName.startsWith("part-"))
      require(parts.size == 1, s"expected one output part file, got ${parts.size}")
      hex(MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(parts.head.toPath)))
    }
  }

  /** The traced run's listeners: scheduler (jobs, stages, tasks),
    * Catalyst (every completed QueryExecution) and Structured Streaming
    * (every micro-batch). Events carry their own timestamps, so they are
    * attributed to operations by time after the run.
    */
  final class Tracer(spark: SparkSession) {
    final class Job(val id: Int, val start: Double, val tag: String,
        val site: String) {
      var end = 0.0; var stages = 0; var tasks = 0
      var taskWallMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
      var maxTaskMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
      var spill = 0L; var result = 0L; var inBytes = 0L; var inRows = 0L
      var outBytes = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val plans = mutable.ArrayBuffer.empty[String]
    private val batches = mutable.ArrayBuffer.empty[String]
    private val json = new Json

    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val tag = Option(e.properties).flatMap(p =>
          Option(p.getProperty("perfbench.op"))).getOrElse("")
        val site = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.details).getOrElse("")
        jobs(e.jobId) = new Job(e.jobId, e.time.toDouble, tag, site)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          job(e.stageInfo.stageId).foreach(_.stages += 1)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        job(e.stageId).foreach { j =>
          j.tasks += 1
          val wall = e.taskInfo.duration
          j.taskWallMs += wall
          j.maxTaskMs = math.max(j.maxTaskMs, wall)
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.diskBytesSpilled; j.result += m.resultSize
            j.inBytes += m.inputMetrics.bytesRead
            j.inRows += m.inputMetrics.recordsRead
            j.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
      private def job(stage: Int): Option[Job] =
        stageJob.get(stage).flatMap(jobs.get)
    }

    private val planListener = new QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit =
        addPlan(qe, collectWithSubqueries(qe.executedPlan) {
          case s: SparkPlan if isScan(s) => s }.size)
      private def isScan(p: SparkPlan): Boolean = p match {
        case _: FileSourceScanExec | _: BatchScanExec |
             _: InMemoryTableScanExec | _: RDDScanExec => true
        case _ => false
      }
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val rec = json.obj(Seq(
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toString,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L).toString,
          "commit_ms" -> (d.getOrElse("walCommit", 0L) +
            d.getOrElse("commitOffsets", 0L)).toString))
        batches.synchronized(batches += rec)
      }
    }

    private def addPlan(qe: QueryExecution, scans: Int,
        only: Set[String] = Set.empty): Unit = {
      val phases = qe.tracker.phases.collect { case (k, p)
          if only.isEmpty || only(k) =>
        k -> json.arr(Seq(p.startTimeMs.toString, p.endTimeMs.toString)) }
      val rec = json.obj(Seq("phases" -> json.obj(phases.toSeq),
        "scan_nodes" -> scans.toString))
      plans.synchronized(plans += rec)
    }

    /** The eager analysis of a query's returned DataFrame, which happens
      * at construction and belongs to no execution; reading it plans
      * nothing.
      */
    def constructed(qe: QueryExecution): Unit =
      addPlan(qe, 0, only = Set("analysis"))

    // Persisted frames can live and die inside one operation (the
    // pipeline persists and releases its own), so storage is also
    // sampled on a timer while the listeners are attached.
    private val storage = mutable.ArrayBuffer.empty[String]
    @volatile private var sampler: Thread = null

    def attach(): Unit = {
      sampler = new Thread(() => {
        try while (!Thread.currentThread().isInterrupted) {
          val bytes = spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum
          storage.synchronized(storage += json.arr(Seq(json.num(now()), bytes.toString)))
          Thread.sleep(200)
        } catch { case _: InterruptedException => () }
      })
      sampler.setDaemon(true)
      sampler.start()
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
    }

    /** Waits for every queued event, then removes the listeners. */
    def detach(): Unit = {
      sampler.interrupt()
      sampler.join()
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }

    def toJson(j: Json): String = synchronized {
      val js = jobs.values.toSeq.map { x =>
        j.obj(Seq("id" -> x.id.toString, "start" -> j.num(x.start),
          "end" -> j.num(x.end), "tag" -> j.str(x.tag), "site" -> j.str(x.site),
          "stages" -> x.stages.toString, "tasks" -> x.tasks.toString,
          "task_wall_ms" -> x.taskWallMs.toString, "run_ms" -> x.runMs.toString,
          "cpu_ns" -> x.cpuNs.toString, "gc_ms" -> x.gcMs.toString,
          "max_task_ms" -> x.maxTaskMs.toString,
          "shuffle_write" -> x.shuffleWrite.toString,
          "shuffle_read" -> x.shuffleRead.toString, "spill" -> x.spill.toString,
          "result" -> x.result.toString, "in_bytes" -> x.inBytes.toString,
          "in_rows" -> x.inRows.toString, "out_bytes" -> x.outBytes.toString))
      }
      "\"jobs\":" + j.arr(js) + ",\"plans\":" + j.arr(plans.toSeq) +
        ",\"batches\":" + j.arr(batches.toSeq) +
        ",\"storage\":" + storage.synchronized(j.arr(storage.toSeq))
    }
  }

  /** Minimal JSON text building (values are pre-rendered strings). */
  final class Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
    def field(k: String, v: Any): String = str(k) + ":" + (v match {
      case d: Double => num(d)
      case other => other.toString
    })
  }
}
