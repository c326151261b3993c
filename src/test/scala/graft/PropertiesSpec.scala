package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.CleanFns._
import graft.operators.Dedup
import graft.pipeline.CrmPipeline

/** Algebraic properties over generated inputs (SURVEY.md §5.2) —
  * plain-scalacheck sampling (scalatestplus isn't in the offline
  * dependency set), evaluated through real Spark plans.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] =
    Gen.listOfN(40, Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "42"))
        .map(_.mkString(" ")))).sample.get.distinct

  test("jaccard ∈ [0,1], symmetric, and 1 on self (generated texts)") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sh = Dedup.shingleFrame(df, "doc_id", "text", n = 2)
    val a = sh.select(col("doc_id").as("ia"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("ib"), col("sh").as("sb"))
    val pairs = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        Dedup.jaccardFromShingles(col("sa"), col("sb")).as("j"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.foreach { case ((i, j), v) =>
      assert(v >= 0.0 && v <= 1.0)
      assert(math.abs(v - pairs((j, i))) < 1e-12, "symmetry")
    }
    sh.collect().foreach { r =>
      val id = r.getLong(0)
      val hasShingles = r.getSeq[String](1).nonEmpty
      if (hasShingles) assert(pairs((id, id)) == 1.0)
    }
  }

  test("anti-join against empty right side is identity") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val empty = Seq.empty[(Long, String)].toDF("id", "t")
    val got = df.join(empty, Seq("id"), "left_anti")
      .orderBy("id").as[(Long, String)].collect()
    assert(got.toSeq == df.orderBy("id").as[(Long, String)].collect().toSeq)
  }

  test("fillEmpty ∘ fillEmpty = fillEmpty; normalizeWhitespace idempotent on its output") {
    val df = (texts.map(Option(_)) :+ None).toDF("v")
    val once = df.select(normalizeWhitespace(fillEmpty(col("v"))).as("r"))
      .as[String].collect()
    val twice = df.select(
        normalizeWhitespace(fillEmpty(normalizeWhitespace(fillEmpty(col("v")))))
          .as("r"))
      .as[String].collect()
    assert(once.toSeq == twice.toSeq)
  }

  test("mergeConcat: blank 'from' never changes 'to'; result non-empty if either side is") {
    val pairs = for {
      t <- Seq("", "a", "b, c")
      f <- Seq("", "a", "d")
    } yield (t, f)
    val got = pairs.toDF("t", "f")
      .select(col("t"), col("f"), mergeConcat(col("t"), col("f")).as("m"))
      .as[(String, String, String)].collect()
    got.foreach { case (t, f, m) =>
      if (f.isEmpty) assert(m == t)
      if (t.nonEmpty || f.nonEmpty) assert(m.nonEmpty)
    }
  }

  test("exact dedup partitions the input: group sizes sum to row count") {
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t.take(3)) }.toDF("id", "k")
    val n = df.count()
    val grouped = Dedup.exact(df, Seq("k"), "id")
      .agg(sum("n_dups")).as[Long].head()
    assert(grouped == n)
  }

  // ---- temporal / graph operators vs brute-force references --------

  private val rnd = new scala.util.Random(42)
  private val randEvents: Seq[(Long, Long, Long)] = // (key, t, eid)
    (1L to 120L).map(eid =>
      (rnd.nextInt(5).toLong, rnd.nextInt(50).toLong, eid))

  test("asOfJoin matches the naive per-probe argmax on random data") {
    import graft.operators.Temporal
    val events = randEvents.toDF("k", "t", "eid")
    val probes = (1L to 40L)
      .map(pid => (rnd.nextInt(5).toLong, rnd.nextInt(55).toLong, pid))
      .toDF("k", "t", "pid")
    val got = Temporal.asOfJoin(probes, events, "k", "k", "t", "t", "eid",
        Seq("eid"))
      .select("pid", "eid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    val evSeq = randEvents
    probes.select("k", "t", "pid").as[(Long, Long, Long)].collect()
      .foreach { case (k, t, pid) =>
        val naive = evSeq.filter(e => e._1 == k && e._2 <= t)
          .sortBy(e => (e._2, e._3)).lastOption.map(_._3)
        assert(got(pid) == naive, s"probe $pid")
      }
  }

  test("rangeJoinPairs matches the naive theta-join on random data") {
    import graft.operators.Temporal
    val events = randEvents.toDF("k2", "t2", "eid")
    val probes = (1L to 40L)
      .map(pid => (rnd.nextInt(5).toLong, rnd.nextInt(55).toLong, pid))
      .toDF("k", "t", "pid")
    val (lo, hi) = (-7L, 4L)
    val got = Temporal.rangeJoinPairs(probes, events, "k", "k2", "t", "t2",
        lo, hi, Seq("eid" -> "eid"))
      .select("pid", "eid").as[(Long, Long)].collect().toSet
    val want = (for {
      (k, t, pid) <- probes.select("k", "t", "pid")
        .as[(Long, Long, Long)].collect()
      (ek, et, eid) <- randEvents
      if ek == k && et >= t + lo && et < t + hi
    } yield (pid, eid)).toSet
    assert(got == want)
  }

  test("applyChangelog matches the naive per-key replay on random data") {
    import graft.operators.Temporal
    // base keys 0..9; changes hit keys 0..14 (5 are pure inserts)
    val base = (0L to 9L).map(k => (k, k * 100.0)).toDF("k", "bal")
    val changes = (1L to 80L).map { eid =>
      (rnd.nextInt(15).toLong, rnd.nextDouble() * 50,
        if (rnd.nextInt(4) == 0) "D" else "U", rnd.nextInt(30).toLong, eid)
    }
    val got = Temporal.applyChangelog(base.toDF("k", "bal"),
        changes.toDF("k", "bal", "op", "t", "eid"), "k",
        Seq("t", "eid"), "op", "D")
      .as[(Long, Double)].collect().toMap
    val want = (0L to 14L).flatMap { k =>
      val ch = changes.filter(_._1 == k).sortBy(c => (c._4, c._5)).lastOption
      ch match {
        case Some(c) => if (c._3 == "D") None else Some(k -> c._2)
        case None => if (k <= 9) Some(k -> k * 100.0) else None
      }
    }.toMap
    assert(got == want)
  }

  test("funnel matches the naive per-key ordered scan on random data") {
    import graft.operators.Temporal
    val steps = Seq("a", "b", "c")
    val evs = (1L to 150L).map(eid =>
      (rnd.nextInt(8).toLong, rnd.nextInt(40).toLong,
        steps(rnd.nextInt(3))))
    val got = Temporal.funnel(evs.toDF("k", "t", "e"), "k", "t",
        steps.map(s => s -> (col("e") === s)))
      .collect().map(r => r.getLong(0) ->
        (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])))
      .toMap
    evs.map(_._1).distinct.foreach { k =>
      val mine = evs.filter(_._1 == k)
      // naive: earliest step-s time strictly after the previous step's
      var prev = Option(Long.MinValue)
      val want = steps.map { s =>
        val t = prev.flatMap(p => mine.filter(e => e._3 == s && e._2 > p)
          .map(_._2).sorted.headOption)
        prev = t
        t
      }
      // strictly-after of the FIRST event needs > nothing: emulate the
      // i == 0 case by seeding prev with MinValue (all times exceed it)
      assert(got(k) == want, s"key $k")
    }
  }

  test("triangles matches brute-force enumeration on random graphs") {
    val n = 14
    val edgeSeq = (1 to 40).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val got = Dedup.triangles(edgeSeq.toDF("id_a", "id_b"))
      .as[(Long, Long, Long)].collect().toSet
    val es = edgeSeq.toSet
    val want = (for {
      a <- 0L until n.toLong; b <- a + 1 to n.toLong; c <- b + 1 to n.toLong
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield (a, b, c)).toSet
    assert(got == want)
  }

  test("resampleFill: full grid per key, fill equals last observation " +
      "at or before the bucket (random data)") {
    import graft.operators.Temporal
    val width = 7L
    // (key, t, value) — eid doubles as a distinct double value
    val obs = randEvents.map { case (k, t, eid) => (k, t, eid.toDouble) }
    val got = Temporal.resampleFill(obs.toDF("k", "t", "v"),
        "k", "t", width,
        aggs = Seq(max(col("v")).as("mv")), fillCols = Seq("mv"))
      .select("k", "bucket", "mv_ff")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    obs.groupBy(_._1).foreach { case (k, mine) =>
      val buckets = mine.map(e => Math.floorDiv(e._2, width))
      // grid covers exactly [min, max] bucket
      ((buckets.min) to (buckets.max)).foreach { b =>
        val lastObs = mine.filter(e => Math.floorDiv(e._2, width) <= b)
        assert(got.contains((k, b)), s"missing ($k, $b)")
        // fill = the max value (our agg) of the latest NON-EMPTY bucket
        val lastBucket = lastObs.map(e => Math.floorDiv(e._2, width)).max
        val want = mine.filter(e => Math.floorDiv(e._2, width) == lastBucket)
          .map(_._3).max
        assert(got((k, b)) == want, s"($k, $b)")
      }
      assert(!got.contains((k, buckets.max + 1)), "grid must not overrun")
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    val n = 30L
    val nodes = (1L to n).toDF("id")
    val edgeSeq = (1 to 25).map(_ =>
      (rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1))
      .filter { case (a, b) => a != b }
    val edges = edgeSeq.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "id", edges)
      .as[(Long, Long)].collect().toMap
    // reference: path-compressed union-find
    val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    edgeSeq.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (1L to n).foreach { i =>
      // canonical label = min id in component on both sides
      val members = (1L to n).filter(j => find(j) == find(i))
      assert(got(i) == members.min, s"node $i")
    }
  }

  test("apportionBudget: Σquota = budget (0 when W = 0), quota ∈ {base, base+1}, " +
      "zero-weight groups get zero (random weights/budgets)") {
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 6) {
      val n = 1 + rnd.nextInt(12)
      // skewed small ints with a fat zero mass, so W = 0 happens too
      val ws = Seq.tabulate(n)(i =>
        (s"g$i", math.max(0L, rnd.nextInt(24).toLong - 8)))
      val budget = rnd.nextInt(1000).toLong
      val rows = graft.operators.Sampling
        .apportionBudget(ws.toDF("g", "w"), "g", "w", budget).collect()
      val bigW = ws.map(_._2).sum
      assert(rows.length == n)
      val qsum = rows.map(_.getAs[Long]("quota")).sum
      assert(qsum == (if (bigW > 0) budget else 0L),
        s"round $round: Σquota $qsum for W=$bigW budget=$budget")
      rows.foreach { r =>
        val b = r.getAs[Long]("base")
        val q = r.getAs[Long]("quota")
        assert(q == b || q == b + 1, s"round $round: base $b quota $q")
        // a zero-weight group has rem 0 and the leftover count is
        // strictly below the number of positive remainders, so it can
        // never be topped up
        if (r.getAs[Long]("weight") == 0L)
          assert(q == 0L, s"round $round: zero-weight group got $q")
      }
    }
  }

  test("anyColContains equals the per-column OR of lower(cell) contains needle") {
    // NUL inside cells, Greek sigma (final-sigma lowering is
    // context-sensitive) and İ (lowers to two code points)
    val piece = Gen.oneOf("test", "TeSt", "te", "st", "\u0000", "Σ", "ΑΣ", "σ",
      "İ", "i", " ", "x")
    val cell = Gen.frequency(1 -> Gen.const[String](null),
      5 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, piece).map(_.mkString)))
    val rows = Gen.listOfN(400, Gen.listOfN(3, cell)).sample.get
    val df = rows.zipWithIndex.map { case (Seq(a, b, c), i) => (i.toLong, a, b, c) }
      .toDF("id", "a", "b", "c")
    val cells = Seq(col("a"), col("b"), col("c"))
    val needles = Seq("test", "es", "st", "σ", "ς", "ας", "ασ", "i\u0307", "i", "x σ", "")
    val checks = needles.flatMap { n =>
      Seq(anyColContains(cells, n),
        cells.map(c => coalesce(lower(c), lit("")).contains(n.toLowerCase)).reduce(_ || _))
    }
    df.select(col("id") +: checks: _*).collect().foreach { r =>
      needles.indices.foreach { i =>
        assert(r.getBoolean(1 + 2 * i) == r.getBoolean(2 + 2 * i),
          s"needle '${needles(i)}' on row ${rows(r.getLong(0).toInt)}")
      }
    }
    assert(df.filter(anyColContains(cells, "σ")).count() > 0)
    assert(df.filter(anyColContains(cells, "ς")).count() > 0)
    intercept[IllegalArgumentException](anyColContains(cells, "a\u0000b"))
  }

  test("splitTestRows: kept and removed partition the input, as the reference defines test rows") {
    val cell = Gen.oneOf[String](null, "", "latest", "TeSt", "clean", "x test y", "tes t")
    val exempt = Gen.oneOf(Option.empty[Boolean], Some(true), Some(false))
    val rows = Gen.listOfN(300, for {
      a <- cell; b <- cell; c <- cell; e <- exempt
    } yield (a, b, c, e)).sample.get
    val df = rows.zipWithIndex.map { case ((a, b, c, e), i) => (i.toLong, a, b, c, e) }
      .toDF("id", "a", "b", "c", "exempt")
    val (kept, removed) = CrmPipeline.splitTestRows(df, col("exempt"))
    // main.py:281-285: any cell contains "test" case-insensitively, and
    // the row is not exempt (a null exemption is no exemption)
    val isTest = rows.map { case (a, b, c, e) =>
      Seq(a, b, c).exists(v => v != null && v.toLowerCase.contains("test")) &&
        !e.contains(true)
    }
    val ids = isTest.indices.map(_.toLong)
    val keptIds = kept.select("id").as[Long].collect().sorted.toSeq
    val removedIds = removed.select("id").as[Long].collect().sorted.toSeq
    assert(keptIds == ids.filterNot(i => isTest(i.toInt)))
    assert(removedIds == ids.filter(i => isTest(i.toInt)))
    assert((keptIds ++ removedIds).sorted == ids)
  }
}
