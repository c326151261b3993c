package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's source/sink surface (SURVEY.md §2.1) rebuilt on
  * Spark's native readers/writers. Citations to /root/reference/main.py.
  */
object CsvJsonIO {

  /** S1/S2 — CSV scan with header, all-string semantics (the reference
    * reads with inference then coerces to strings via fillna —
    * main.py:199-202, 373; an explicit all-string schema skips the
    * inference pass entirely, which at 100 TB avoids reading the data
    * twice). `multiLine` handles quoted embedded newlines (headers
    * and cells). In `multiLine` mode the parser otherwise takes the
    * first line break it meets as the line separator, even one inside a
    * quoted header (the reference's `First\nName`); in a CRLF file that
    * leaves a '\r' on the last header and every last-column cell. So a
    * file whose first record ends in CRLF is read with CRLF named.
    */
  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None, multiLine: Boolean = true): DataFrame = {
    val r0 = spark.read.option("header", "true")
      .option("multiLine", multiLine.toString)
    val r = if (multiLine && firstRecordEndsInCrlf(spark, path))
      r0.option("lineSep", "\r\n") else r0
    schema.fold(r)(s => r.schema(s)).csv(path)
  }

  /** Whether the first record of the first data file under `path` (a
    * file, directory or glob) ends in CRLF: scans a prefix of it for
    * the first line break outside double quotes, honouring the
    * reader's default escape (a backslash) inside them. A compressed
    * file (`.gz`, `.bz2`, ...) is read through its Hadoop codec, as
    * Spark reads it.
    * Driver-side, one prefix read — file metadata, not a data pass.
    */
  private def firstRecordEndsInCrlf(spark: SparkSession,
      path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
    }.filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    files.sortBy(_.getPath.toString).headOption.exists { st =>
      val raw = fs.open(st.getPath)
      val in = Option(new CompressionCodecFactory(conf).getCodec(st.getPath))
        .fold[java.io.InputStream](raw)(_.createInputStream(raw))
      val buf = try in.readNBytes(1 << 20) finally in.close()
      var quoted = false
      var i = 0
      while (i < buf.length && (quoted || (buf(i) != '\n' && buf(i) != '\r'))) {
        if (buf(i) == '"') quoted = !quoted
        else if (quoted && buf(i) == '\\') i += 1
        i += 1
      }
      i + 1 < buf.length && buf(i) == '\r' && buf(i + 1) == '\n'
    }
  }

  /** S3 — JSON-records source (the GSheet `get_all_records()` payload
    * shape, main.py:133-134, 152): one JSON object per record, parsed
    * by Spark's JSON reader with schema inference over the records
    * Dataset — no network connector, the transport is the caller's.
    */
  def fromJsonRecords(spark: SparkSession, records: Dataset[String]): DataFrame =
    spark.read.json(records)

  def fromJsonRecords(spark: SparkSession, records: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(spark.createDataset(records))
  }

  /** S7 — full CSV sink (main.py:638-639). Partitioned output is the
    * scale form; `single = true` reproduces the reference's one-file
    * shape for bounded results (driver-mandated verify sinks only —
    * never inside a timed path).
    */
  def writeCsv(df: DataFrame, path: String, single: Boolean = false): Unit =
    (if (single) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S8 — sample sink: deterministic first-N by sort key
    * (main.py:636-641 writes head(10000); head order in pandas is load
    * order — here the caller names the key that defines "first").
    */
  def writeSample(df: DataFrame, path: String, orderKey: String,
      n: Int = 10000): Unit =
    df.orderBy(literalCol(orderKey)).limit(n)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** A column by its literal name: CRM headers contain dots and parens
    * (`Parliamentary Constituency (U.K.)`), which `col()` would parse
    * as nested-field access.
    */
  private[graft] def literalCol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** JSONL (one JSON object per line) sink/source round-trip — the
    * interchange format most training-data tooling consumes. The sink
    * shards by `orderCol` range so files are globally ordered and
    * disjoint (the Layout.writeShards layout, in text form); the
    * source is Spark's native JSON reader (splittable — JSONL scans
    * parallelize by file split, unlike multi-line JSON).
    */
  def writeJsonl(df: DataFrame, path: String, orderCol: String,
      numShards: Int): Unit =
    df.repartitionByRange(numShards, col(orderCol))
      .sortWithinPartitions(orderCol)
      // keep null fields: the default writer omits them, and a column
      // that happens to be all-null (an optional annotation) would
      // vanish from the round-trip's inferred schema entirely
      .write.mode("overwrite").option("ignoreNullFields", false).json(path)

  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S9 — per-column distinct-value sinks (main.py:458-473): one
    * sorted CSV per (name, frame) pair, as produced by
    * `CrmPipeline.multiChoiceLists`, under a file-system-safe directory
    * name. Fails before any write when two names map to the same
    * directory (`Faith?` and `Faith!`): one list would silently replace
    * the other. Returns one write per list, not yet run; they write
    * disjoint directories, so the caller may run them in any order or
    * concurrently. Each write sorts inside one partition, so pass frames
    * of one partition (a slice of `CrmPipeline.multiChoiceValues` is:
    * its write is one job with no shuffle); a frame of several would
    * have its last stage narrowed to one task.
    */
  def writeDistinctLists(lists: Seq[(String, DataFrame)],
      dir: String): Seq[() => Unit] = {
    val named = lists.map { case (name, df) =>
      (name, name.replaceAll("[^A-Za-z0-9._-]", "_"), df) }
    val clashes = named.groupBy(_._2).collect {
      case (safe, ls) if ls.size > 1 => s"$safe <- ${ls.map(_._1).mkString(" | ")}"
    }
    require(clashes.isEmpty,
      s"distinct lists share a directory: ${clashes.toSeq.sorted.mkString("; ")}")
    named.map { case (_, safe, df) => () =>
      df.coalesce(1).sortWithinPartitions(df.columns.map(literalCol): _*)
        .write.mode("overwrite").option("header", "true")
        .csv(s"$dir/$safe")
    }
  }
}
