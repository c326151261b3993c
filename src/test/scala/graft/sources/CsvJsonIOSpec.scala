package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CsvJsonIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_io").toString

  test("CSV sink/scan round-trip preserves rows and header") {
    val dir = tmp() + "/out"
    val df = Seq((1L, "a,b", "x\ny"), (2L, "plain", "z"))
      .toDF("id", "with_comma", "with_newline")
    CsvJsonIO.writeCsv(df.orderBy("id"), dir, single = true)
    val back = CsvJsonIO.readCsv(spark, dir)
    val rows = back.orderBy("id")
      .as[(String, String, String)].collect()
    assert(back.columns.toSeq == Seq("id", "with_comma", "with_newline"))
    assert(rows.toSeq == Seq(("1", "a,b", "x\ny"), ("2", "plain", "z")))
  }

  test("sample sink writes first-N by key") {
    val dir = tmp() + "/sample"
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    CsvJsonIO.writeSample(df, dir, "id", n = 7)
    val back = CsvJsonIO.readCsv(spark, dir)
    assert(back.count() == 7)
    assert(back.select(max(col("id").cast("long"))).as[Long].head() == 7L)
  }

  test("JSON records source parses GSheet-shaped payloads (main.py:133-134)") {
    val records = Seq(
      """{"fullColName": "Email", "IN SCOPE": "T", "Tag?": "F"}""",
      """{"fullColName": "City", "IN SCOPE": "F", "Tag?": "T"}""")
    val df = CsvJsonIO.fromJsonRecords(spark, records)
    assert(df.columns.sorted.toSeq == Seq("IN SCOPE", "Tag?", "fullColName"))
    assert(df.filter(col("fullColName") === "Email")
      .select("IN SCOPE").as[String].head() == "T")
  }

  test("distinct-list sinks write one CSV dir per column, fs-safe names") {
    val dir = tmp() + "/lists"
    val lists = Seq(
      "Are you a person of faith?" -> Seq("A", "B").toDF("v"),
      "Checkbox/1" -> Seq("X").toDF("v"))
    CsvJsonIO.writeDistinctLists(lists, dir).foreach(_())
    val subdirs = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(subdirs.toSeq == Seq("Are_you_a_person_of_faith_", "Checkbox_1"))
    assert(CsvJsonIO.readCsv(spark, s"$dir/Checkbox_1")
      .as[String].collect().toSeq == Seq("X"))
  }

  test("list and sample sinks take dotted column names literally") {
    val dir = tmp()
    val c = "Parliamentary Constituency (U.K.)"
    CsvJsonIO.writeDistinctLists(Seq(c -> Seq("b", "a").toDF(c)), s"$dir/lists")
      .foreach(_())
    val list = CsvJsonIO.readCsv(spark, s"$dir/lists/Parliamentary_Constituency__U.K._")
    assert(list.columns.toSeq == Seq(c))
    assert(list.as[String].collect().toSeq == Seq("a", "b"))
    val df = Seq(("3", "z"), ("1", "x"), ("2", "y")).toDF("Ref (U.K.)", "we`ird")
    CsvJsonIO.writeSample(df, s"$dir/sample", "Ref (U.K.)", n = 2)
    CsvJsonIO.writeDistinctLists(Seq("w" -> df.select("`we``ird`")), s"$dir/w")
      .foreach(_())
    assert(CsvJsonIO.readCsv(spark, s"$dir/sample").as[(String, String)]
      .collect().toSeq == Seq(("1", "x"), ("2", "y")))
    assert(CsvJsonIO.readCsv(spark, s"$dir/w/w").as[String].collect().toSeq ==
      Seq("x", "y", "z"))
  }

  test("distinct lists whose names share a directory fail before any write") {
    val dir = tmp() + "/clash"
    val lists = Seq(
      "Faith?" -> Seq("A").toDF("v"),
      "Faith!" -> Seq("B").toDF("v"),
      "Other" -> Seq("C").toDF("v"))
    val e = intercept[IllegalArgumentException] {
      CsvJsonIO.writeDistinctLists(lists, dir).foreach(_())
    }
    assert(e.getMessage.contains("Faith_ <- Faith? | Faith!"))
    assert(!new java.io.File(dir).exists(), "a list was written before the check")
  }

  test("CRLF files read without a stray CR, also with a bare LF in a quoted header") {
    def read(text: String): (Seq[String], Seq[String]) = {
      val f = tmp() + "/data.csv"
      Files.write(java.nio.file.Paths.get(f), text.getBytes("UTF-8"))
      val df = CsvJsonIO.readCsv(spark, f)
      (df.columns.toSeq,
        df.select(df.columns.last).as[String].collect().toSeq)
    }
    // the reference's export: CRLF records, a bare LF inside "First\nName"
    val mixed = read("\"First\nName\",Last Col\r\nAnn,v1\r\nBo,\"v,2\"\r\n")
    // uniformly CRLF, the quoted header's break included
    val uniform = read("\"First\r\nName\",Last Col\r\nAnn,v1\r\nBo,\"v,2\"\r\n")
    // quoted content stays verbatim, as in the reference's pandas read
    assert(mixed == (Seq("First\nName", "Last Col"), Seq("v1", "v,2")))
    assert(uniform == (Seq("First\r\nName", "Last Col"), Seq("v1", "v,2")))
    // a file with LF records is untouched by the CRLF handling
    assert(read("\"First\nName\",Last Col\nAnn,v1\n") ==
      (Seq("First\nName", "Last Col"), Seq("v1")))
    // an escaped quote inside a quoted header does not end the quotes
    assert(read("\"Say \\\"hi\nthere\\\" ok\",Last Col\r\nAnn,v1\r\n") ==
      (Seq("Say \"hi\nthere\" ok", "Last Col"), Seq("v1")))
  }

  test("compressed CSV files get the CRLF check on their decompressed bytes") {
    def read(name: String, bytes: Array[Byte]): (Seq[String], Seq[String]) = {
      val f = tmp() + "/" + name
      Files.write(java.nio.file.Paths.get(f), bytes)
      val df = CsvJsonIO.readCsv(spark, f)
      (df.columns.toSeq,
        df.select(df.columns.last).as[String].collect().toSeq)
    }
    def gzip(text: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(text.getBytes("UTF-8"))
      gz.close()
      out.toByteArray
    }
    // A gzip member holding one stored (uncompressed) deflate block. Its
    // 16-bit length field is little-endian, so a length of 0x0A0D puts
    // the raw bytes CR LF right after the header, outside any quote.
    def storedGzip(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      def le(v: Int, n: Int): Unit = (0 until n).foreach(k => out.write(v >>> (8 * k)))
      Seq(0x1f, 0x8b, 8, 0, 0, 0, 0, 0, 0, 0xff).foreach(b => out.write(b))
      out.write(1) // final block, stored
      le(data.length, 2)
      le(~data.length, 2)
      out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(data)
      le(crc.getValue.toInt, 4)
      le(data.length, 4)
      out.toByteArray
    }
    val mixed = gzip("\"First\nName\",Last Col\r\nAnn,v1\r\nBo,\"v,2\"\r\n")
    assert(read("mixed.csv.gz", mixed) ==
      (Seq("First\nName", "Last Col"), Seq("v1", "v,2")))
    val head = "\"First\nName\",Last Col\nAnn,v1\nBo,"
    val pad = "x" * (0x0A0D - head.length - 1)
    val lf = (head + pad + "\n").getBytes("UTF-8")
    assert(lf.length == 0x0A0D)
    assert(read("lf.csv.gz", storedGzip(lf)) ==
      (Seq("First\nName", "Last Col"), Seq("v1", pad)))
  }

  test("JSONL round-trip: ordered disjoint shards, one object per line") {
    val dir = tmp() + "/jsonl"
    val df = (1L to 100L).map(i => (i, s"doc $i")).toDF("id", "text")
    CsvJsonIO.writeJsonl(df, dir, "id", numShards = 4)
    val back = CsvJsonIO.readJsonl(spark, dir)
    assert(back.count() == 100 &&
      df.exceptAll(back.select("id", "text")).isEmpty)
    // shards are range-disjoint: per-file (min, max) intervals don't
    // overlap — a trainer can stream files in key order
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(parts.length == 4)
    val ranges = parts.map { f =>
      val ids = scala.io.Source.fromFile(f).getLines()
        .map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
        .toSeq
      assert(ids == ids.sorted) // ordered within the shard
      (ids.min, ids.max)
    }
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping shard ranges: $hi >= $lo")
    }
  }

  test("JSONL round-trip keeps a column that is null in every row") {
    val dir = tmp() + "/jsonl_nulls"
    val df = Seq((1L, None: Option[String]), (2L, None: Option[String]))
      .toDF("id", "label")
    CsvJsonIO.writeJsonl(df, dir, "id", numShards = 1)
    val back = CsvJsonIO.readJsonl(spark, dir)
    // default writer would omit null fields and the inferred schema
    // would lose 'label' entirely
    assert(back.columns.toSet == Set("id", "label"))
    assert(back.filter(col("label").isNull).count() == 2)
  }
}
