package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.BufferedIterator

import graft.series.{SeriesOps, SeriesSpec}

class SeriesOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val spec = SeriesSpec(Nil, Seq("DATE_TIME"))

  test("W1/W2 returns↔prices round-trip exact to 1e-12 (ref test_data_processor.py:19-23)") {
    val df = SparkSpec.randomWalk(300)
    val rets = SeriesOps.logReturns(df, spec, "typical_price", "ret")
    val p0 = df.orderBy("DATE_TIME").select("typical_price").first().getDouble(0)
    val recon = SeriesOps.reconstructPrices(
      rets.withColumn("ret", coalesce(col("ret"), lit(0.0))),
      spec, "ret", lit(p0), "price_recon")
    val maxErr = recon
      .select(max(abs(col("price_recon") - col("typical_price"))))
      .first().getDouble(0)
    assert(maxErr < 1e-12, s"round-trip err $maxErr")
  }

  test("W3 windows: n=10,w=3 gives 8 rows, first [0,1,2], last [7,8,9] (ref :26-31)") {
    import spark.implicits._
    val df = (0 until 10).map(i => (i, i.toDouble)).toDF("rn", "v")
    val w = SeriesOps.slidingWindows(df, SeriesSpec(Nil, Seq("rn")), "v", 3)
      .orderBy("rn").select("window").as[Seq[Double]].collect()
    assert(w.length === 8)
    assert(w.head === Seq(0.0, 1.0, 2.0))
    assert(w.last === Seq(7.0, 8.0, 9.0))
  }

  test("W4 supervised windows: y = value at +horizon, count = n-w-h+1") {
    import spark.implicits._
    val df = (0 until 20).map(i => (i, i.toDouble)).toDF("rn", "v")
    val xy = SeriesOps.supervisedWindows(df, SeriesSpec(Nil, Seq("rn")), "v", 5, 2)
      .orderBy("rn").select("y").as[Double].collect()
    assert(xy.length === 20 - 5 + 1 - 2)
    assert(xy.head === 6.0) // window [0..4] at rn=4, y = v[4+2]
  }

  test("chunked supervised windows == single-partition windows (halo replication)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // 1-based rn, as produced by row_number()
    val df = (1 to 200).map(i => (i, rnd.nextDouble())).toDF("rn", "v").repartition(7)
    val ref = SeriesOps.supervisedWindows(df, SeriesSpec(Nil, Seq("rn")), "v", 7, 3)
      .orderBy("rn").select("rn", "x", "y").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
    // chunkSize 32 << 200: windows straddle many chunk boundaries
    val chunked = SeriesOps.chunkedSupervisedWindows(df, "rn", "v", 7, 3, chunkSize = 32)
      .orderBy("rn").select("rn", "x", "y").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
    assert(chunked.toSeq === ref.toSeq)
    // and the plan must NOT contain a partitionless window
    val plan = SeriesOps.chunkedSupervisedWindows(df, "rn", "v", 7, 3, 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "chunked windows must not funnel to a single partition")
  }

  test("W5 rolling std: null until min_periods, sample ddof=1 after") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 4.0, 8.0).zipWithIndex.map(_.swap).toDF("rn", "v")
    val r = SeriesOps.rollingStd(df, SeriesSpec(Nil, Seq("rn")), "v", 3, 2, "vol")
      .orderBy("rn").select("vol").collect()
    assert(r(0).isNullAt(0))
    assert(math.abs(r(1).getDouble(0) - math.sqrt(0.5)) < 1e-12) // stddev_samp(1,2)
  }

  test("W6 backfill fills leading nulls with first following non-null") {
    import spark.implicits._
    val df = Seq((0, None: Option[Double]), (1, None), (2, Some(5.0)), (3, Some(7.0)))
      .toDF("rn", "v")
    val r = SeriesOps.backfill(df, SeriesSpec(Nil, Seq("rn")), "v", "f")
      .orderBy("rn").select("f").collect().map(_.getDouble(0))
    assert(r.toSeq === Seq(5.0, 5.0, 5.0, 7.0))
  }

  test("runSegments labels contiguous state runs") {
    import spark.implicits._
    val df = Seq((0, "a"), (1, "a"), (2, "b"), (3, "a"), (4, "a")).toDF("rn", "st")
    val r = SeriesOps.runSegments(df, SeriesSpec(Nil, Seq("rn")), "st", "seg")
      .orderBy("rn").select("seg").collect().map(_.getLong(0))
    assert(r.toSeq === Seq(1L, 1L, 2L, 3L, 3L))
  }

  test("W9 meanCenter: centered window has ~zero mean") {
    import spark.implicits._
    val df = Seq(Seq(1.0, 2.0, 6.0)).toDF("arr")
    val c = df.select(SeriesOps.meanCenter(col("arr")).as("c"))
      .as[Seq[Double]].first()
    assert(math.abs(c.sum) < 1e-12)
    assert(math.abs(c.head - (1.0 - 3.0)) < 1e-12)
  }

  test("sessionize: gap over threshold starts a new session, ids 1-based per key") {
    import spark.implicits._
    def t(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(sec))
    val df = Seq((1L, 1L, t(0)), (1L, 2L, t(100)), (1L, 3L, t(2000)),
      (1L, 4L, t(2100)), (2L, 5L, t(0))).toDF("user_id", "event_id", "ts")
    val r = SeriesOps.sessionize(df,
        SeriesSpec(Seq("user_id"), Seq("ts", "event_id")), "ts", gapSeconds = 1800)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("J4 as-of join: inclusive most-recent match per key; tolerance nulls stale matches") {
    import spark.implicits._
    def t(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(sec))
    val left = Seq((1L, 1L, t(5), 0.0), (1L, 2L, t(10), 0.0), (1L, 3L, t(2), 0.0),
      (2L, 4L, t(7), 0.0)).toDF("user_id", "event_id", "ts", "value")
    val right = Seq((1L, t(3), 30.0), (1L, t(10), 100.0), (2L, t(8), 80.0))
      .toDF("user_id", "ts", "rv")
    val out = graft.series.AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "rv")
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect().toMap
    assert(out(1L) === Some(30.0))  // t5 → right t3
    assert(out(2L) === Some(100.0)) // equal timestamp matches (inclusive)
    assert(out(3L) === None)        // before any right row
    assert(out(4L) === None)        // other key's rows invisible; t8 > t7
    val tol = graft.series.AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "rv",
        maxGapSeconds = Some(1.0))
      .select("event_id", "asof_value").as[(Long, Option[Double])].collect().toMap
    assert(tol(1L) === None)        // gap 2 s > tolerance 1 s
    assert(tol(2L) === Some(100.0)) // gap 0
  }

  test("W8 temporal features: Monday maps to dow 0 (pandas convention)") {
    import spark.implicits._
    // 2024-01-01 is a Monday
    val df = Seq(java.sql.Timestamp.valueOf("2024-01-01 13:00:00")).toDF("ts")
    val r = SeriesOps.temporalFeatures(df, "ts")
      .select("dow_sin", "dow_cos", "hour_sin").first()
    assert(math.abs(r.getDouble(0) - 0.0) < 1e-12) // sin(0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12) // cos(0)
    assert(math.abs(r.getDouble(2) - math.sin(13.0 * 2 * math.Pi / 24)) < 1e-12)
  }

  test("W16 ewma: hand-computed adjusted weights, truncation at k lags") {
    val s = spark
    import s.implicits._
    val df = Seq(1.0, 2.0, 3.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val spec = SeriesSpec(Seq("k"), Seq("i"))
    val out = SeriesOps.ewma(df, spec, "v", q = 0.5, k = 2)
      .orderBy("i").select("ewma").as[Double].collect()
    // t1: 1/1; t2: (2+0.5)/(1.5); t3: (3+0.5*(2+0.5))/(1+0.5*(1.5))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1) - 2.5 / 1.5) < 1e-12)
    assert(math.abs(out(2) - 4.25 / 1.75) < 1e-12)
    // truncation: with k=1 the lag-2 term must vanish
    val out1 = SeriesOps.ewma(df, spec, "v", q = 0.5, k = 1)
      .orderBy("i").select("ewma").as[Double].collect()
    assert(math.abs(out1(2) - 4.0 / 1.5) < 1e-12)
  }

  test("seasonalDecompose: exact recovery of a planted trend + zero-sum " +
       "seasonal pattern; edges have null trend/resid; even period refused") {
    val s = spark
    import s.implicits._
    // v_t = t + s[(t-1)%3], s = (3, 0, -3): any 3 consecutive phases
    // sum to zero, so the centered MA(3) recovers trend = t EXACTLY on
    // interior rows, the phase means recover s exactly (center 0), and
    // the residual is identically zero
    val sPat = Seq(3.0, 0.0, -3.0)
    val df = (1 to 12).map(t => (1L, t, t.toDouble + sPat((t - 1) % 3)))
      .toDF("uid", "rn0", "v")
    val spec = SeriesSpec(Seq("uid"), Seq("rn0"))
    val got = SeriesOps.seasonalDecompose(df, spec, "v", period = 3)
      .select("rn", "trend", "seasonal", "resid")
      .collect().map(r => (r.getInt(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(_._1)
    got.foreach { case (rn, trend, seasonal, resid) =>
      if (rn == 1 || rn == 12) {
        assert(trend.isEmpty && resid.isEmpty,
          s"edge row $rn has no full centered window")
      } else {
        assert(trend.contains(rn.toDouble), s"trend at $rn")
        assert(resid.contains(0.0), s"resid at $rn")
      }
      assert(seasonal === sPat((rn - 1) % 3), s"seasonal at $rn")
    }
    // the m phase effects sum to zero by construction
    assert(math.abs(got.take(3).map(_._3).sum) < 1e-12)
    intercept[IllegalArgumentException] {
      SeriesOps.seasonalDecompose(df, spec, "v", period = 4)
    }
  }

  /** (key, value) rows; `f` sees each run as a buffered iterator. */
  private def runsOf(rows: Seq[(String, Int)])(
      f: (String, BufferedIterator[(String, Int)]) => IterableOnce[String]): List[String] =
    SeriesOps.runs(rows.iterator)(_._1)(f).toList

  private val sumRun: (String, BufferedIterator[(String, Int)]) => IterableOnce[String] =
    (k, run) => Some(s"$k=${run.map(_._2).sum}")

  test("runs: an empty partition calls f never and yields nothing") {
    var calls = 0
    assert(runsOf(Nil) { (_, _) => calls += 1; None } === Nil)
    assert(calls === 0)
  }

  test("runs: a single run hands f every row in order, head included") {
    assert(runsOf(Seq("a" -> 1, "a" -> 2, "a" -> 3)) { (k, run) =>
      val first = run.head
      Some(s"$k:$first:" + run.map(_._2).mkString(","))
    } === List("a:(a,1):1,2,3"))
  }

  test("runs: rows f leaves unread are skipped; f returning nothing skips the key") {
    val rows = Seq("a" -> 1, "a" -> 2, "a" -> 3, "b" -> 4, "c" -> 5, "c" -> 6)
    // reads one row of each run
    assert(runsOf(rows)((k, run) => Some(s"$k${run.next()._2}")) ===
      List("a1", "b4", "c5"))
    // reads nothing at all
    assert(runsOf(rows)((k, _) => Some(k)) === List("a", "b", "c"))
    // b returns nothing, after reading its run or not
    assert(runsOf(rows)((k, run) =>
      if (k == "b") { run.foreach(_ => ()); None } else sumRun(k, run)) ===
      List("a=6", "c=11"))
    assert(runsOf(rows)((k, run) => if (k == "b") Nil else sumRun(k, run)) ===
      List("a=6", "c=11"))
    // a run never reads past its key
    assert(runsOf(rows) { (k, run) =>
      run.foreach(r => assert(r._1 === k)); Iterator(k, k)
    } === List("a", "a", "b", "b", "c", "c"))
  }

  test("runs: a key that reappears after another key starts a second run") {
    assert(runsOf(Seq("a" -> 1, "b" -> 2, "a" -> 3, "a" -> 4))(sumRun) ===
      List("a=1", "b=2", "a=7"))
  }

  test("runs: output streams — a run is read only when its output is needed") {
    val rows = (0 until 1000).map(i => ((i / 10).toString, i))
    var pulled = 0
    val part = rows.iterator.map { r => pulled += 1; r }
    var calls = 0
    val out = SeriesOps.runs(part)(_._1) { (k, run) =>
      calls += 1
      run.map(r => s"$k/${r._2}") // lazy: reads the run as it is consumed
    }
    assert(pulled === 0 && calls === 0)
    assert(out.next() === "0/0")
    assert(calls === 1 && pulled === 1)
    assert(out.take(14).toList.last === "1/14")
    // the second run has started, and no row past the one just read
    // has been pulled
    assert(calls === 2 && pulled === 15)
    assert(out.size === 1000 - 15)
    assert(calls === 100 && pulled === 1000)
  }
}
