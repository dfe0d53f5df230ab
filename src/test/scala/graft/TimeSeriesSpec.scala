package graft

import org.apache.spark.sql.functions._
import graft.functions.TimeSeriesLib

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("savgol coefficients: window mean for polyOrder 0/1, sums to 1") {
    val c51 = TimeSeriesLib.savgolCoefficients(5, 1)
    c51.foreach(c => assert(math.abs(c - 0.2) < 1e-12)) // linear fit center = mean
    val c73 = TimeSeriesLib.savgolCoefficients(7, 3)
    assert(math.abs(c73.sum - 1.0) < 1e-12)
  }

  test("savgol smoothing reproduces a quadratic exactly (polyOrder >= 2)") {
    val df = (1 to 30).map(i => (i, (i * i).toDouble)).toDF("t", "y")
    val sm = TimeSeriesLib.smoothSavgol(df, "y", 7, 2, orderCol = "t")
      .filter($"y_savgol".isNotNull)
      .select($"y", $"y_savgol").as[(Double, Double)].collect()
    assert(sm.nonEmpty)
    sm.foreach { case (y, s) => assert(math.abs(y - s) < 1e-6, s"savgol($y) = $s") }
  }

  test("EWM matches pandas ewm(alpha, adjust=True) hand calc") {
    // x = [1, 2, 3], alpha=0.5 -> y = [1, (2 + 0.5*1)/1.5 = 5/3, (3 + 1 + 0.25)/1.75 = 17/7]
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("t", "x")
    val out = TimeSeriesLib.smoothEwm(df, "x", 0.5, orderCol = "t", partitionBy = Nil)
      .orderBy("t").select("x_ewm").as[Double].collect()
    val expected = Seq(1.0, 5.0 / 3.0, 17.0 / 7.0)
    out.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("EWM: ambiguous concat keys stay separate; null readings don't crash or pollute") {
    // ("a","bc") and ("ab","c") concatenate identically — they must remain
    // distinct series (regression: concat_ws key collision)
    val df = Seq(
      ("a", "bc", 1L, Some(10.0)), ("a", "bc", 2L, Some(20.0)),
      ("ab", "c", 1L, Some(100.0)), ("ab", "c", 2L, None: Option[Double])
    ).toDF("k1", "k2", "t", "x")
    val out = TimeSeriesLib.smoothEwm(df, "x", 0.5, orderCol = "t", partitionBy = Seq("k1", "k2"))
      .orderBy("k1", "t").select("k1", "t", "x_ewm").collect()
    // series ("a","bc"): 10, (20+5)/1.5 = 50/3; series ("ab","c"): 100, then null reading carries 100
    assert(math.abs(out(0).getDouble(2) - 10.0) < 1e-12)
    assert(math.abs(out(1).getDouble(2) - 50.0 / 3.0) < 1e-12)
    assert(math.abs(out(2).getDouble(2) - 100.0) < 1e-12)
    assert(math.abs(out(3).getDouble(2) - 100.0) < 1e-12) // null carried the prior EWM
  }

  test("EWM ties on the order key share the final running value") {
    val df = Seq((1L, 1.0), (2L, 2.0), (2L, 4.0), (3L, 3.0)).toDF("t", "x")
    val out = TimeSeriesLib.smoothEwm(df, "x", 0.5, orderCol = "t", partitionBy = Nil)
      .orderBy("t", "x").select("t", "x_ewm").collect()
    // both t=2 rows get the EWM after BOTH contributed: (4 + 2*0.5 + 1*0.25)/1.75 = 3
    assert(math.abs(out(1).getDouble(1) - 3.0) < 1e-12)
    assert(math.abs(out(2).getDouble(1) - 3.0) < 1e-12)
  }

  test("EWM segmented scan: one key spanning many partitions matches the sequential scan") {
    // the old flatMapGroups path required each key's series in ONE task;
    // this pins the round-6 affine segmented scan on exactly the shape
    // that killed it — one huge key split by the range partitioner —
    // against a driver-side sequential reference (null readings included)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    // at spec scale AQE would coalesce the range shuffle to ONE partition
    // and quietly skip the cross-boundary carry logic under test
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val alpha = 0.3
      val n = 20000
      val vals: Seq[Option[Double]] =
        (1 to n).map(i => if (i % 97 == 0) None else Some(((i * 2654435761L) % 1000).toDouble))
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("t", "x")
      val out = TimeSeriesLib.smoothEwm(df, "x", alpha, orderCol = "t", partitionBy = Nil)
        .orderBy("t").select("x_ewm").as[Option[Double]].collect()
      // sequential reference
      var num = 0.0; var den = 0.0
      val om = 1.0 - alpha
      val ref = vals.map { v =>
        v.foreach { x => num = num * om + x; den = den * om + 1.0 }
        if (den > 0) Some(num / den) else None
      }
      assert(out.length == n)
      out.zip(ref).zipWithIndex.foreach { case ((a, b), i) =>
        (a, b) match {
          case (Some(x), Some(y)) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
              s"row $i: segmented $x vs sequential $y")
          case (x, y) => assert(x == y, s"row $i: $x vs $y")
        }
      }
      // and the shape claim itself: the scan really did run over >1 partition
      assert(df.select(col("t")).repartitionByRange(col("t")).rdd.getNumPartitions > 1)

      // sequential reference with ties: each (key, t) group folds its
      // values in ascending order (the scan's tie-break) and all its rows
      // carry the state after the whole group
      def tiedRef(rows: Seq[(String, Long, Double)]): Map[(String, Long), Double] =
        rows.groupBy(_._1).toSeq.flatMap { case (k, series) =>
          var n = 0.0; var d = 0.0
          series.groupBy(_._2).toSeq.sortBy(_._1).map { case (t, g) =>
            g.map(_._3).sorted.foreach { x => n = n * om + x; d = d * om + 1.0 }
            (k, t) -> n / d
          }
        }.toMap
      def checkTied(rows: Seq[(Long, String, Long, Double)]): Unit = {
        val out = TimeSeriesLib.smoothEwm(rows.toDF("id", "k", "t", "x"), "x", alpha,
          orderCol = "t", partitionBy = Seq("k"))
          .select("id", "k", "t", "x", "x_ewm").as[(Long, String, Long, Double, Double)].collect()
        // every row comes out once and unchanged: a tie buffer aliasing the
        // sort's reused row would repeat one row per group
        assert(out.map(r => (r._1, r._2, r._3, r._4)).sorted.toSeq == rows.sorted)
        val ref = tiedRef(rows.map(r => (r._2, r._3, r._4)))
        out.foreach { case (id, k, t, _, e) =>
          val y = ref((k, t))
          assert(math.abs(e - y) <= 1e-9 * math.max(1.0, y), s"id $id: $e vs $y")
        }
      }
      // tie groups of width 3 whose rows differ in value and id
      checkTied((0 until 3000).map(i => (i.toLong, "one", (i / 3).toLong, ((i * 7919L) % 101).toDouble)))
      // few (key, ord) values over many shuffle partitions: every partition
      // holds one wide tie group, so each carry crosses a boundary, and the
      // range exchange leaves its last partition empty
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val few = (0 until 600).map(i => (i.toLong, s"k${i % 2}", (i % 7).toLong, ((i * 31L) % 17).toDouble))
      val layout = few.toDF("id", "k", "t", "x").repartitionByRange(col("k"), col("t"))
        .rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(layout.count(_ > 0) == 14 && layout.last == 0, layout.mkString(","))
      checkTied(few)
      // a range exchange over deterministic input never leaves an interior
      // partition empty (its bounds are sampled keys), so the fold's
      // pass-through of empty partitions is pinned directly
      assert(graft.core.SegmentedScan.prefix[Int, Int](0)(_ + _)(
        Vector(Some(1), None, None, Some(2), None)) == Vector(0, 1, 1, 1, 3))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("sessionize segmented scan: one key spanning many partitions matches a sequential reference") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val n = 20000
      // ~1 event/min, a >=30min gap every 97 events, plus ties every 13
      val micros = (0 until n).scanLeft(0L) { (acc, i) =>
        acc + (if (i % 97 == 0) 1800000000L else if (i % 13 == 0) 0L else 60000000L)
      }.tail
      val df = micros.zipWithIndex.map { case (m, i) => (i.toLong, new java.sql.Timestamp(m / 1000)) }
        .toDF("id", "ts").withColumn("u", lit("one"))
      val out = TimeSeriesLib.sessionize(df, "ts", 1800L, Seq("u"))
        .orderBy("id").select("session_id").as[Long].collect()
      // sequential reference over the sorted distinct times, then mapped back
      var cnt = 0L; var prevTs = Long.MinValue
      val byTs = micros.distinct.sorted.map { t =>
        if (prevTs == Long.MinValue || t - prevTs >= 1800000000L) cnt += 1L
        prevTs = t
        t -> cnt
      }.toMap
      val ref = micros.map(byTs)
      assert(out.length == n)
      out.zip(ref).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"row $i: segmented $a vs sequential $b")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("fillMissing mean respects partitionBy (per-group, not global)") {
    val df = Seq(("a", Some(10.0)), ("a", None: Option[Double]), ("b", Some(30.0)), ("b", None: Option[Double]))
      .toDF("g", "v")
    val out = TimeSeriesLib.fillMissing(df, "v", "mean", orderCol = "g", partitionBy = Seq("g"))
      .orderBy("g", "v").select("g", "v").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("a", 10.0), ("a", 10.0), ("b", 30.0), ("b", 30.0)),
      s"per-group mean fill broken: ${out.toSeq}")
  }

  test("linear interpolation fills interior gaps, leaves edges null") {
    val df = Seq((1, None: Option[Double]), (2, Some(10.0)), (3, None: Option[Double]),
      (4, None: Option[Double]), (5, Some(40.0)), (6, None: Option[Double]))
      .toDF("t", "v")
    val out = TimeSeriesLib.fillMissing(df, "v", "interpolate", orderCol = "t")
      .orderBy("t").select("v").as[Option[Double]].collect()
    assert(out(0).isEmpty)                       // leading null stays
    assert(out(2).contains(20.0) && out(3).contains(30.0)) // interior linear
    assert(out(5).isEmpty)                       // trailing null stays
  }

  test("seasonal decomposition reconstructs value where trend is defined") {
    // clean synthetic series: linear trend + period-4 seasonality
    val season = Seq(5.0, -2.0, -1.0, -2.0)
    val df = (0 until 40).map(i => (i, i * 2.0 + season(i % 4))).toDF("t", "v")
    val out = TimeSeriesLib.seasonalDecompose(df, "v", 4, orderCol = "t")
      .filter($"trend".isNotNull)
      .select($"v", $"trend" + $"seasonal" + $"resid").as[(Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (v, rec) => assert(math.abs(v - rec) < 1e-9) }
  }

  test("multiplicative seasonal decomposition reconstructs v = trend*seasonal*resid") {
    // clean synthetic series: exponential-ish level × period-4 seasonal factor
    val season = Seq(1.5, 0.8, 0.9, 0.8)
    val df = (0 until 40).map(i => (i, (100.0 + i * 3.0) * season(i % 4))).toDF("t", "v")
    val dec = TimeSeriesLib.seasonalDecompose(df, "v", 4, orderCol = "t",
      model = "multiplicative")
    val out = dec.filter($"trend".isNotNull)
      .select($"v", $"trend" * $"seasonal" * $"resid").as[(Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (v, rec) => assert(math.abs(v - rec) < 1e-6) }
    // seasonal factors are normalized to mean ≈ 1 and track the planted shape
    val fac = dec.filter($"trend".isNotNull).select("seasonal").as[Double].collect()
    assert(math.abs(fac.sum / fac.length - 1.0) < 0.05)
    assert(fac.max > 1.2 && fac.min < 0.95)
    // unknown model is rejected loudly
    intercept[IllegalArgumentException] {
      TimeSeriesLib.seasonalDecompose(df, "v", 4, orderCol = "t", model = "robust")
    }
  }

  test("rolling time window counts only rows within the horizon") {
    val df = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:30:00"),
      (3L, "2024-01-01 02:00:00")).toDF("id", "s")
      .withColumn("ts", to_timestamp($"s")).withColumn("v", lit(1.0))
    val out = TimeSeriesLib.rollingStatsTime(df, "v", 3600, Seq("count"), "ts")
      .orderBy("id").select("v_tw_count").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 1L)) // third event is >1h after both others
  }

  test("resampleWithGrid inserts gap buckets and ffills") {
    val df = Seq(("2024-01-01 00:10:00", 1.0), ("2024-01-01 03:20:00", 7.0))
      .toDF("s", "v").withColumn("ts", to_timestamp($"s"))
    val out = TimeSeriesLib.resampleWithGrid(df, "ts", "1 hour", Seq("v" -> "sum"),
      fillMethod = "ffill").orderBy("period")
    val vals = out.select("v_sum").as[Double].collect()
    assert(vals.toSeq == Seq(1.0, 1.0, 1.0, 7.0)) // hours 0..3, gaps ffilled
  }

  test("changepoint flag fires on a level shift") {
    val df = ((1 to 20).map(i => (i, 10.0 + (i % 3) * 0.1)) ++
      (21 to 40).map(i => (i, 100.0 + (i % 3) * 0.1))).toDF("t", "v")
    val out = TimeSeriesLib.detectChangepoints(df, "v", 4, orderCol = "t")
    val flagged = out.filter($"v_changepoint").select("t").as[Int].collect()
    assert(flagged.nonEmpty && flagged.forall(t => t >= 20 && t <= 26))
  }

  test("sessionize: >= gap opens a session (session_window exclusive-end parity), ties share") {
    // u1: 10:00, 10:10 (same session), 10:40 (exactly 30min after 10:10 ->
    // NEW session, exclusive end), plus a tie at 10:40 that must share the
    // ordinal; u2 independent
    val df = Seq(
      ("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 10:10:00"),
      ("u1", "2024-01-01 10:40:00"), ("u1", "2024-01-01 10:40:00"),
      ("u2", "2024-01-01 09:00:00")
    ).toDF("u", "s").withColumn("ts", to_timestamp($"s"))
    val out = TimeSeriesLib.sessionize(df, "ts", 1800L, Seq("u"))
      .select("u", "s", "session_id").as[(String, String, Long)].collect().toSet
    assert(out == Set(
      ("u1", "2024-01-01 10:00:00", 1L), ("u1", "2024-01-01 10:10:00", 1L),
      ("u1", "2024-01-01 10:40:00", 2L), ("u2", "2024-01-01 09:00:00", 1L)))
    // both tied rows present and share ordinal 2
    val tied = TimeSeriesLib.sessionize(df, "ts", 1800L, Seq("u"))
      .filter($"s" === "2024-01-01 10:40:00").select("session_id").as[Long].collect()
    assert(tied.toSeq == Seq(2L, 2L))
  }

  test("sessionStats: bounds, counts, duration, and caller aggs per session") {
    val df = Seq(
      ("u1", "2024-01-01 10:00:00", 1.0), ("u1", "2024-01-01 10:10:00", 2.0),
      ("u1", "2024-01-01 11:00:00", 5.0)
    ).toDF("u", "s", "v").withColumn("ts", to_timestamp($"s"))
    val out = TimeSeriesLib.sessionStats(df, "ts", 1800L, Seq("u"), Seq("v" -> "sum"))
      .orderBy("session_id")
      .select($"session_id", $"n_events", $"duration_seconds", $"v_sum")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 600.0, 3.0), (2L, 1L, 0.0, 5.0)))
  }

  test("timeWeightedAvg: long-held values dominate; plain avg would not; singleton null") {
    val df = Seq(
      // value 10 held 90s, value 100 held 10s, final reading weightless
      ("u1", "2024-01-01 00:00:00", 10.0),
      ("u1", "2024-01-01 00:01:30", 100.0),
      ("u1", "2024-01-01 00:01:40", 55.0),
      ("u2", "2024-01-01 00:00:00", 7.0)
    ).toDF("u", "s", "v").withColumn("ts", to_timestamp($"s"))
    val m = TimeSeriesLib.timeWeightedAvg(df, "v", "ts", Seq("u"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getLong(3))).toMap
    val expected = (10.0 * 90 + 100.0 * 10) / 100.0 // = 19.0, vs plain avg 55
    assert(math.abs(m("u1")._1.get.asInstanceOf[Double] - expected) < 1e-12)
    assert(m("u1")._2.contains(100.0) && m("u1")._3 == 3L)
    assert(m("u2")._1.isEmpty && m("u2")._2.isEmpty, "singleton series has no in-force duration")
  }

  test("volumeAnomalies: collapsed day flags, steady days don't, robustness to the spike itself") {
    // 14 steady days of ~100 rows, one day at 3 rows (collapse) per group
    val rows = (1 to 14).flatMap { d =>
      val n = if (d == 7) 3 else 100 + (d % 3)
      (1 to n).map(i => ("src", f"2024-01-$d%02d 10:00:00"))
    }
    val df = rows.toDF("g", "s").withColumn("ts", to_timestamp($"s"))
    val out = TimeSeriesLib.volumeAnomalies(df, "ts", "day", Seq("g"))
      .collect().map(r => r.getAs[java.sql.Timestamp]("period").toString.take(10) ->
        (r.getAs[Long]("n"), r.getAs[Boolean]("volume_outlier"))).toMap
    assert(out("2024-01-07") == ((3L, true)), "collapsed day must flag")
    assert(out.filter(_._1 != "2024-01-07").forall(!_._2._2), "steady days must not flag")
  }

  test("interArrivalStatsScalable: matches exact stats; discrete median convention pinned") {
    // gaps for u1: 10, 20, 40, 80 (even count, all distinct) — the
    // q_interarrival_scalable oracle uses DuckDB quantile_disc(0.5), which
    // takes the LOWER middle element (20); this pins Spark's
    // approx_percentile (exact at this size) to the same convention so the
    // oracle cannot silently depend on lucky gate data. u2 has one event →
    // (0, null, null, null) row must survive.
    val t0 = 1700000000L
    val df = (Seq(0L, 10L, 30L, 70L, 150L).map(off => ("u1", new java.sql.Timestamp((t0 + off) * 1000L)))
        :+ (("u2", new java.sql.Timestamp(t0 * 1000L))))
      .toDF("u", "ts")
    val out = TimeSeriesLib.interArrivalStatsScalable(df, "ts", Seq("u"))
      .orderBy("u").collect()
    assert(out(0).getLong(1) == 4L && out(0).getDouble(2) == 37.5 &&
      out(0).getDouble(3) == 20.0 && out(0).getLong(4) == 80L,
      s"u1 stats: ${out(0)}")
    assert(out(1).getLong(1) == 0L && out(1).isNullAt(2) && out(1).isNullAt(3),
      s"u2 singleton row: ${out(1)}")
    // and the exact sibling agrees on everything except the median
    // convention (percentile interpolates: (20+40)/2 = 30)
    val exact = TimeSeriesLib.interArrivalStats(df, "ts", Seq("u")).orderBy("u").collect()
    assert(exact(0).getDouble(3) == 30.0, s"exact median: ${exact(0)}")
  }

  test("interArrivalStats: hand-computed gaps, singleton entity yields empty stats") {
    val df = Seq(
      ("u1", "2024-01-01 00:00:00"), ("u1", "2024-01-01 00:00:10"),
      ("u1", "2024-01-01 00:01:10"), ("u1", "2024-01-01 00:01:40"),
      ("u2", "2024-01-01 05:00:00")
    ).toDF("u", "s").withColumn("ts", to_timestamp($"s"))
    val m = TimeSeriesLib.interArrivalStats(df, "ts", Seq("u"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    // u1 gaps: 10, 60, 30 → mean 100/3, median 30, max 60
    assert(m("u1")._1 == 3L)
    assert(math.abs(m("u1")._2.get.asInstanceOf[Double] - 100.0 / 3) < 1e-12)
    assert(m("u1")._3.get.asInstanceOf[Double] == 30.0)
    assert(m("u1")._4.get.asInstanceOf[Long] == 60L)
    assert(m("u2") == ((0L, None, None, None)), "singleton: zero gaps, null stats")
  }

  test("transitionMatrix: hand-built chain, null states skipped, rows condition on from_state") {
    val df = Seq(
      ("u1", 1, "A"), ("u1", 2, "B"), ("u1", 3, null), ("u1", 4, "A"), ("u1", 5, "B"),
      ("u2", 1, "A"), ("u2", 2, "B"),
      ("u3", 1, "C") // singleton: no transition
    ).toDF("u", "t", "s")
    val m = TimeSeriesLib.transitionMatrix(df, "s", Seq("t"), Seq("u"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // null skipped: u1 sequence is A B A B → A→B ×2, B→A ×1; u2 adds A→B
    assert(m(("A", "B")) == ((3L, 1.0)))
    assert(m(("B", "A"))._1 == 1L && m(("B", "A"))._2 == 1.0)
    assert(m.size == 2, "singleton entity contributes nothing")
  }

  test("trendingTopK: per-period rank with deterministic ties, k cap, null items dropped") {
    val df = Seq(
      ("2024-01-01 10:00", "a"), ("2024-01-01 11:00", "a"), ("2024-01-01 12:00", "b"),
      ("2024-01-01 13:00", "c"), ("2024-01-01 14:00", "c"),      // a=2, c=2 tie → a first
      ("2024-01-02 10:00", "b"), ("2024-01-02 11:00", null)
    ).toDF("s", "item").withColumn("ts", to_timestamp($"s"))
    val out = TimeSeriesLib.trendingTopK(df, "ts", "item", 2, "day")
      .select(date_format($"period", "yyyy-MM-dd"), $"item", $"n", $"rank")
      .as[(String, String, Long, Int)].collect().toSet
    assert(out == Set(
      ("2024-01-01", "a", 2L, 1), ("2024-01-01", "c", 2L, 2),
      ("2024-01-02", "b", 1L, 1)))
  }

  test("activeUsers: DAU and trailing-window distinct counts, zeros on gap days") {
    val df = Seq(
      ("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 23:00:00"), // same day once
      ("u2", "2024-01-01 12:00:00"),
      ("u1", "2024-01-03 08:00:00"),
      ("u3", "2024-01-04 09:00:00")
    ).toDF("user", "s").withColumn("ts", to_timestamp($"s"))
    val m = TimeSeriesLib.activeUsers(df, "user", "ts", Seq(3))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(m("2024-01-01") == ((2L, 2L)))
    assert(m("2024-01-02") == ((0L, 2L)), "gap day: dau 0, 3-day window still sees u1+u2")
    assert(m("2024-01-03") == ((1L, 2L)), "u1+u2 in the Jan1-3 window")
    assert(m("2024-01-04") == ((1L, 2L)), "u1(Jan3)+u3(Jan4); Jan1 actives aged out")
    assert(!m.contains("2024-01-05"), "windows past the last observed day are dropped")
  }

  test("rollingCorr: exact ±1 on linear windows, null under min pairs") {
    val df = ((1 to 10).map(i => ("up", i, 2.0 * i)) ++
      (1 to 10).map(i => ("down", i, -3.0 * i)) :+ ("solo", 1, 5.0))
      .toDF("g", "t", "v")
    val out = TimeSeriesLib.rollingCorr(df, "v", "t", 4, "t", Seq("g"))
      .select($"g", $"t", $"v_t_rolling_corr").collect()
    out.foreach { r =>
      (r.getString(0), r.getInt(1)) match {
        case ("up", 1) | ("solo", 1) => assert(r.isNullAt(2), "single-pair frame is null")
        case ("up", _)   => assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
        case ("down", 1) => assert(r.isNullAt(2))
        case ("down", _) => assert(math.abs(r.getDouble(2) + 1.0) < 1e-12)
        case _ => ()
      }
    }
  }

  test("cohortRetention: hand-built two-cohort day matrix") {
    val df = Seq(
      ("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 12:00:00"), // same day counts once
      ("u1", "2024-01-02 09:00:00"), ("u1", "2024-01-04 09:00:00"),
      ("u2", "2024-01-01 23:00:00"), ("u2", "2024-01-02 01:00:00"),
      ("u3", "2024-01-02 08:00:00")
    ).toDF("user", "s").withColumn("ts", to_timestamp($"s"))
    val m = TimeSeriesLib.cohortRetention(df, "user", "ts", "day")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m(("2024-01-01", 0)) == ((2L, 2L, 1.0)))          // u1, u2 start Jan 1
    assert(m(("2024-01-01", 1)) == ((2L, 2L, 1.0)))          // both active Jan 2
    assert(m(("2024-01-01", 3)) == ((1L, 2L, 0.5)))          // only u1 on Jan 4
    assert(m(("2024-01-02", 0)) == ((1L, 1L, 1.0)))          // u3's own cohort
    assert(m.size == 4)
  }

  test("funnel: strict ordering, earliest-completion semantics, conversions") {
    val df = Seq(
      // u1 completes all three in order
      ("u1", "view", "2024-01-01 10:00:00"), ("u1", "click", "2024-01-01 10:01:00"),
      ("u1", "buy", "2024-01-01 10:02:00"),
      // u2 clicks BEFORE viewing — click must not count; no buy
      ("u2", "click", "2024-01-01 09:00:00"), ("u2", "view", "2024-01-01 09:30:00"),
      // u3 views only
      ("u3", "view", "2024-01-01 08:00:00"),
      // u4 buys without viewing — never enters the funnel
      ("u4", "buy", "2024-01-01 07:00:00")
    ).toDF("user", "step", "s").withColumn("ts", to_timestamp($"s"))
    val out = TimeSeriesLib.funnel(df, "user", "ts", "step", Seq("view", "click", "buy"))
      .orderBy("step_index")
      .select($"step", $"n_users", $"conversion_from_first", $"conversion_from_prev")
      .collect()
    assert(out(0).getString(0) == "view" && out(0).getLong(1) == 3L)
    assert(out(0).getDouble(2) == 1.0 && out(0).isNullAt(3))
    assert(out(1).getString(0) == "click" && out(1).getLong(1) == 1L, "pre-view click excluded")
    assert(math.abs(out(1).getDouble(3) - 1.0 / 3) < 1e-12)
    assert(out(2).getString(0) == "buy" && out(2).getLong(1) == 1L)
    assert(math.abs(out(2).getDouble(2) - 1.0 / 3) < 1e-12)
    assert(out(2).getDouble(3) == 1.0)
  }

  test("MAD outliers: spike flagged, MAD=0 group flags nothing, nulls false") {
    val rows = (1 to 20).map(i => (i, "a", java.lang.Double.valueOf(10.0 + (i % 5) * 0.1))) ++
      Seq((21, "a", java.lang.Double.valueOf(1000.0)),
        (22, "a", null.asInstanceOf[java.lang.Double]),
        // b: median 5, deviations (0,0,0,4) → MAD 0 → even the 9 stays unflagged
        (31, "b", java.lang.Double.valueOf(5.0)), (32, "b", java.lang.Double.valueOf(5.0)),
        (33, "b", java.lang.Double.valueOf(5.0)), (34, "b", java.lang.Double.valueOf(9.0)))
    val df = rows.toDF("id", "g", "v")
    val flags = TimeSeriesLib.flagOutliers(df, "v", "mad", 3.5, partitionBy = Seq("g"))
      .select($"id", $"v_outlier").as[(Int, Boolean)].collect().toMap
    assert(flags(21), "the 1000.0 spike must flag")
    assert((1 to 20).forall(i => !flags(i)), "baseline points must not flag")
    assert(!flags(22), "null reading flags false, not null")
    assert(Seq(31, 32, 33, 34).forall(i => !flags(i)), "MAD=0 group flags nothing")
  }

  test("trendFeatures recovers exact linear laws per group; single point yields null slope") {
    val df = ((1 to 10).flatMap(i => Seq(("u1", i, 2.0 * i + 3), ("u2", i, -0.5 * i + 7))) ++
      Seq(("u3", 1, 42.0))).toDF("u", "t", "v")
    val r = TimeSeriesLib.trendFeatures(df, "v", "t", Seq("u"))
      .collect().map(x => x.getString(0) -> x).toMap
    def d(u: String, c: String) = r(u).getAs[Double](c)
    assert(r("u1").getAs[Long]("v_n") == 10L)
    assert(math.abs(d("u1", "v_slope") - 2.0) < 1e-9)
    assert(math.abs(d("u1", "v_intercept") - 3.0) < 1e-9)
    assert(math.abs(d("u1", "v_r2") - 1.0) < 1e-9)
    assert(math.abs(d("u2", "v_slope") + 0.5) < 1e-9)
    assert(math.abs(d("u2", "v_intercept") - 7.0) < 1e-9)
    assert(r("u3").isNullAt(r("u3").fieldIndex("v_slope")), "zero x-variance → null slope")
    // global form: one row, all 21 points counted
    val g = TimeSeriesLib.trendFeatures(df, "v", "t").collect()(0)
    assert(g.getAs[Long]("v_n") == 21L)
  }
}
