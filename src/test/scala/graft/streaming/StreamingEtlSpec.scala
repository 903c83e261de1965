package graft.streaming

import graft.GraftSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Batch/stream parity: the streaming transforms must produce exactly
  * the batch results on the same data (Spark's unified-API guarantee,
  * asserted rather than assumed). Streams are driven through the
  * public file source + memory sink — no internal test harness. */
class StreamingEtlSpec extends GraftSpec {

  import StreamingEtl.Event

  private def mkEvents(rows: (Long, Long, Long, String, Double)*) = {
    import spark.implicits._
    rows.map { case (id, tsUs, uid, tpe, v) =>
      Event(id, new java.sql.Timestamp(tsUs / 1000), uid, tpe, v)
    }.toDS()
  }

  private val H = 3600000000L // 1 h in micros

  test("tumblingCounts(batch) equals the epoch-aligned bucket arithmetic") {
    val ds = mkEvents(
      (1L, 10L * 60 * 1000000, 1L, "click", 1.0),
      (2L, 50L * 60 * 1000000, 1L, "click", 2.0),
      (3L, 70L * 60 * 1000000, 2L, "view", 4.0))
    val out = StreamingEtl.tumblingCounts(ds.toDF())
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (0L, "click", 2L, 3.0),
      (3600000L, "view", 1L, 4.0)))
  }

  test("tumblingCounts: stream over a file source equals the batch result") {
    val dir = tempDir("graft-stream-in").toFile.getAbsolutePath
    val ckpt = tempDir("graft-stream-ck").toFile.getAbsolutePath
    val ds = mkEvents((0 until 200).map { i =>
      (i.toLong, i.toLong * 97 * 1000000, (i % 7).toLong,
        Seq("click", "view", "purchase")(i % 3), i / 10.0)
    }: _*)
    ds.write.mode("overwrite").parquet(dir)

    val streamIn = spark.readStream.schema(ds.schema).parquet(dir)
    val q = StreamingEtl.tumblingCounts(streamIn)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = StreamingEtl.tumblingCounts(ds.toDF())
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("slidingCounts: every event lands in exactly duration/slide windows; stream == batch") {
    val dir = tempDir("graft-slide-in").toFile.getAbsolutePath
    val ckpt = tempDir("graft-slide-ck").toFile.getAbsolutePath
    val ds = mkEvents((0 until 100).map { i =>
      (i.toLong, i.toLong * 131 * 1000000, (i % 5).toLong,
        Seq("click", "view")(i % 2), i / 7.0)
    }: _*)
    val batch = StreamingEtl.slidingCounts(ds.toDF())
    // 1 h / 30 min: the n-sum over all windows double-counts each event
    assert(batch.agg(sum("n")).head().getLong(0) === 200L)
    ds.write.mode("overwrite").parquet(dir)
    val q = StreamingEtl.slidingCounts(
        spark.readStream.schema(ds.schema).parquet(dir))
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("sliding_out").orderBy("window_start", "event_type").collect().toSeq ===
      batch.orderBy("window_start", "event_type").collect().toSeq)
  }

  test("eventsStream reads the real nanos-timestamp events table incrementally") {
    val ckpt = tempDir("graft-ev-ck").toFile.getAbsolutePath
    val stream = StreamingEtl.eventsStream(spark, "/root/testdata/sf0.001")
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType.typeName === "timestamp")
    val q = StreamingEtl.tumblingCounts(stream)
      .writeStream.format("memory").queryName("ev_stream_out")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ev_stream_out")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = StreamingEtl.tumblingCounts(
        graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("sessionize(batch, flushAtEnd) matches the window-function q_sessionize shape") {
    // user 1: events at 0, 10 min, 50 min (gap > 30 min -> 2 sessions)
    // user 2: single event
    val ds = mkEvents(
      (1L, 0L, 1L, "click", 1.0),
      (2L, 10L * 60 * 1000000, 1L, "view", 1.0),
      (3L, 50L * 60 * 1000000, 1L, "click", 1.0),
      (4L, 5L * 60 * 1000000, 2L, "view", 1.0))
    val out = StreamingEtl.sessionize(ds, flushAtEnd = true)
      .collect().map(s => (s.user_id, s.session_id, s.n_events,
        s.session_start.getTime, s.session_end.getTime)).sorted
    assert(out.toSeq === Seq(
      (1L, 1L, 2L, 0L, 600000L),
      (1L, 2L, 1L, 3000000L, 3000000L),
      (2L, 1L, 1L, 300000L, 300000L)))
  }

  test("sessionize(stream): a gap inside one batch closes and emits the session") {
    val dir = tempDir("graft-sess-in").toFile.getAbsolutePath
    val ckpt = tempDir("graft-sess-ck").toFile.getAbsolutePath
    import spark.implicits._
    // ts=0 sits exactly on the initial watermark and would be dropped
    // as late under the event-time timeout; use a real epoch base
    val T0 = 1704067200L * 1000000
    val batch1 = mkEvents(
      (1L, T0, 1L, "click", 1.0),
      (2L, T0 + 10L * 60 * 1000000, 1L, "view", 1.0),
      (3L, T0 + 50L * 60 * 1000000, 1L, "click", 1.0)) // closes session 1
    batch1.write.mode("overwrite").parquet(dir)

    val streamIn = spark.readStream.schema(batch1.schema).parquet(dir).as[Event]
    val q = StreamingEtl.sessionize(streamIn)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()

    val emitted = spark.table("sessions_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the CLOSED session is emitted; session 2 stays in state
    assert(emitted.toSeq === Seq((1L, 1L, 2L)))
  }

  test("sessionize(stream): watermark advance times out and evicts the idle session") {
    val dir = tempDir("graft-sess2-in").toFile.getAbsolutePath
    val ckpt = tempDir("graft-sess2-ck").toFile.getAbsolutePath
    import spark.implicits._
    val T0 = 1704067200L * 1000000
    mkEvents((1L, T0, 1L, "click", 1.0))
      .write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(
      mkEvents((1L, T0, 1L, "click", 1.0)).schema).parquet(dir).as[Event]
    val q = StreamingEtl.sessionize(streamIn, watermark = "1 minute")
      .writeStream.format("memory").queryName("sessions_to")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions_to").count() === 0) // still open
      // a much later event (other user) pushes the watermark past
      // user 1's lastTs + gap -> the idle session times out and emits
      mkEvents((2L, T0 + 3L * 3600 * 1000000, 2L, "view", 1.0))
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable() // timeout fires on the trigger AFTER the watermark moves
    } finally q.stop()
    val emitted = spark.table("sessions_to").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(emitted.contains((1L, 1L, 1L)),
      s"timed-out session must be emitted and evicted; got $emitted")
  }

  test("sessionizeViaStream: full streaming run equals the batch sessionizer on real data") {
    // the sentinel-flush AvailableNow run must emit EVERY session —
    // including ones still open at end-of-input — matching the batch
    // window-function twin row-for-row (the driver-graded guarantee)
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingEtl.sessionizeViaStream(spark, dir)
      .collect().map(s => (s.user_id, s.session_id, s.n_events,
        s.session_start.getTime, s.session_end.getTime)).sorted.toSeq
    val batch = graft.SparkEntry.queries("q_sessionize")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("incrementalAggViaStream: multi-round foreachBatch merge equals the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingEtl.incrementalAggViaStream(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_total"), sum(col("sv")).cast("double").as("sum_value"),
        count(lit(1)).as("n_days"), max(col("n")).as("max_day_n"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("recoverTumblingViaStream: crash mid-stream + checkpoint restart equals batch") {
    val dir = "/root/testdata/sf0.001"
    val recovered = StreamingEtl.recoverTumblingViaStream(spark, dir)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).sorted.toSeq
    val batch = StreamingEtl.tumblingCounts(
        graft.sources.Tables.events(spark, dir))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(recovered === batch)
    assert(recovered.nonEmpty)
  }

  test("heavyHittersViaStream: MG guarantee holds across micro-batch merges") {
    val dir = "/root/testdata/sf0.001"
    val k = 64
    val sketch = StreamingEtl.heavyHittersViaStream(spark, dir, k = k, topN = k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactRows = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).count().collect()
    val exact = exactRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val eps = n / (k + 1L)
    // completeness: terms above the guarantee threshold survive the
    // per-batch sketches AND the cross-batch driver merges
    exact.filter(_._2 > eps).foreach { case (t, c) =>
      assert(sketch.contains(t), s"stream lost heavy hitter $t (true $c, eps $eps)")
    }
    // soundness: every reported count is a lower bound within eps
    sketch.foreach { case (t, lb) =>
      val c = exact.getOrElse(t, 0L)
      assert(lb <= c, s"$t: lb $lb exceeds true $c")
      assert(c - lb <= eps, s"$t: gap ${c - lb} > eps $eps")
    }
    assert(sketch.nonEmpty)
  }

  test("intervalJoinViaStream: stream-stream join equals the batch interval join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingEtl.intervalJoinViaStream(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sorted.toSeq
    val ev = graft.sources.Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), unix_micros(col("ts")).as("p_us"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        (col("p_us") - col("c_us")).between(0L, 600000000L))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("p_us") - col("c_us")).as("delta_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "sf0.001 must contain at least one attributed pair")
  }

  test("asofEnrichViaStream: streaming as-of equals the AsofJoin.keyedPad batch twin") {
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))
    val streamed = StreamingEtl.asofEnrichViaStream(spark, dir)
      .toDF().select("purchase_id", "user_id", "quote_id", "quote_age_us",
        "quote_vmilli")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq

    // batch twin on the Y5 keyed as-of kernel: dedupe views per
    // (user, ts) keeping the greatest event_id (the kernel contract),
    // keyedPad, then apply the 1 h lookback as a null-out
    val ev = graft.sources.Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(struct(col("event_id"),
        floor(col("value") * 1000).cast("long").as("vm")),
        col("event_id")).as("__r"))
      .select(col("user_id"), col("ts"),
        col("__r.event_id").as("qid"), col("__r.vm").as("qvm"))
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"))
    val age = unix_micros(col("ts")) - unix_micros(col("src_ts"))
    val ok = col("src_ts").isNotNull && age <= StreamingEtl.AsofLookbackUs
    val batch = graft.sync.AsofJoin.keyedPad(trades, "ts", views, "ts",
        keyCols = Seq("user_id"), valueCols = Seq("qid", "qvm"))
      .select(col("purchase_id"), col("user_id"),
        when(ok, col("qid")).as("quote_id"),
        when(ok, age).as("quote_age_us"),
        when(ok, col("qvm")).as("quote_vmilli"))
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq

    assert(streamed === batch)
    assert(streamed.nonEmpty, "sf0.001 must contain purchases")
    assert(streamed.exists(_._3.isDefined), "some purchase must be enriched")
  }

  test("scd2ViaStream: streaming dimension equals the batch lag-based SCD2") {
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3).getTime,
        Option(r.getTimestamp(4)).map(_.getTime), r.getInt(5))
    val streamed = StreamingEtl.scd2ViaStream(spark, dir)
      .toDF().select("user_id", "version", "event_type", "valid_from",
        "valid_to", "is_current")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val chg = graft.sources.Tables.events(spark, dir)
      .filter(col("user_id") < 100)
      .withColumn("__prev", lag(col("event_type"), 1).over(w))
      .filter(col("__prev").isNull || col("event_type") =!= col("__prev"))
    val batch = chg.withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"))
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq

    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // every user's history: dense versions, exactly one open row
    val byUser = streamed.groupBy(_._1)
    assert(byUser.values.forall(h => h.map(_._2).sorted == (1 to h.size)))
    assert(byUser.values.forall(_.count(_._6 == 1) == 1))
  }

  test("a memory-sink run drops its graft_stream_* view; the returned frame still reads its rows") {
    val dir = tempDir("graft-stream-view")
    val ds = mkEvents((0 until 120).map { i =>
      (i.toLong, i.toLong * 61 * 1000000, (i % 5).toLong, Seq("click", "view")(i % 2), i / 4.0)
    }: _*)
    ds.write.parquet(dir.resolve("events.parquet").toString)
    def streamViews = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_")).toSeq
    def rows(df: DataFrame) = df.select(col("window_start").cast("string"), col("event_type"),
      col("n"), col("sum_value")).collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val streamed = StreamingEtl.tumblingCountsViaStream(spark, dir.toString)
    assert(streamViews === Nil)
    val batch = rows(StreamingEtl.tumblingCounts(ds.toDF()))
    assert(batch.nonEmpty)
    assert(rows(streamed) === batch)
    // a later frame built on it resolves without the view, too
    assert(streamed.filter(col("n") > 0).count() === batch.size)
  }

  test("updateModeViaStream: latest-per-key == batch agg AND the change log is strictly larger") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingEtl.updateModeViaStream(spark, dir)
      .select(col("window_start").cast("string"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
    val batch = StreamingEtl.tumblingCounts(
        graft.sources.Tables.events(spark, dir))
      .select(col("window_start").cast("string"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
    assert(streamed === batch)
    // the Update-mode point: windows spanning micro-batch boundaries are
    // emitted MORE THAN ONCE along the way (superseded in the log)
    val (log, _) = StreamingEtl.updateModeChangeLog(spark, dir)
    val logRows = log.size
    val finalRows = log.map(r => (r.get(0), r.getString(1))).distinct.size
    assert(finalRows > 0)
    assert(logRows > finalRows,
      s"change log ($logRows) must exceed the final table ($finalRows) — no intermediate updates means Update mode was not exercised")
  }

  test("outer joins, late data, dedup, session window, OHLC, cohort and KMV streams equal their batch twins") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), unix_micros(col("ts")).as("p_us"))
    def interval(joinType: String) = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          (col("p_us") - col("c_us")).between(0L, 600000000L), joinType)
      .withColumn("delta_us", col("p_us") - col("c_us"))
    val DayUs = 86400000000L
    val cutoffUs = (Math.floorDiv(
      ev.agg(min(unix_micros(col("ts")))).head().getLong(0), DayUs) + 2) * DayUs
    val firstDay = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    def kmv = {
      val h40 = pmod(conv(substring(md5(concat(lit("kmv:"),
        col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(1L << 40))
      val hs = ev.select(h40.as("h")).distinct().orderBy(col("h")).limit(64)
        .collect().map(_.getLong(0))
      val n = ev.select(col("user_id")).distinct().count()
      val est = if (hs.length < 64) hs.length.toLong else 63L * (1L << 40) / hs.max
      Seq((hs.length.toLong, est, n, (est - n) * 1000000L / n))
        .toDF("sketch_n", "est_users", "n_exact", "err_ppm")
    }
    // (scenario, stream run, batch twin): the registered batch query
    // where one exists, else the batch spelling of the same operator
    val cases: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("leftOuterJoin", () => StreamingEtl.leftOuterJoinViaStream(spark, dir),
        () => interval("left_outer")),
      ("fullOuterJoin", () => StreamingEtl.fullOuterJoinViaStream(spark, dir),
        () => interval("full_outer")
          .withColumn("user_id", coalesce(col("user_id"), col("p_user_id")))),
      ("lateData", () => StreamingEtl.lateDataViaStream(spark, dir),
        () => StreamingEtl.tumblingCounts(
          ev.filter(unix_micros(col("ts")) >= cutoffUs))),
      ("dedup", () => StreamingEtl.dedupViaStream(spark, dir), () => ev),
      ("sessionWindow", () => StreamingEtl.sessionWindowViaStream(spark, dir),
        () => ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n_events"))),
      ("ohlc", () => StreamingEtl.ohlcViaStream(spark, dir)
          .orderBy(col("n_ticks").desc, col("event_type"), col("bar")).limit(200),
        () => graft.SparkEntry.queries("q_ohlc_bars")(spark, dir)),
      ("enrichedCohort", () => StreamingEtl.enrichedCohortViaStream(spark, dir),
        () => ev.join(firstDay, "user_id")
          .groupBy(col("first_day").cast("string").as("cohort_day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))),
      ("kmvDistinct", () => StreamingEtl.kmvDistinctViaStream(spark, dir), () => kmv))
    for ((name, stream, batch) <- cases) {
      val streamed = stream()
      def rows(df: DataFrame) = df.select(streamed.columns.map(col): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val got = rows(streamed)
      assert(got.nonEmpty, s"$name: the stream emitted no rows")
      assert(got === rows(batch()), name)
    }
  }

  private def stageDirs(base: java.io.File): Set[String] =
    base.listFiles().filter(d => d.getName.startsWith("graft_stream-") &&
      new java.io.File(d, graft.io.Artifacts.Marker).isFile).map(_.getName).toSet

  test("the q_stream_* queries share 10 stages, and neither a second call nor a second JVM rebuilds one") {
    val dir = "/root/testdata/sf0.001"
    withTmpdir { base =>
      val streams = graft.queries.StreamQueries.defs
      assert(streams.size === 19)
      streams.foreach(q => q.fn(spark, dir).write.mode("overwrite").format("noop").save())
      val built = stageDirs(base)
      // 10 distinct inputs: the outer joins, the two sessionizers and the
      // update-mode and recovery runs each share one stage
      assert(built.size === 10, built)
      // a rebuild deletes the directory first, and with it this file
      built.foreach(n => Files.createFile(new java.io.File(base, s"$n/_kept").toPath))
      val listed = StreamingEtl.artifacts.map { case (_, stage) => stage(spark, dir).toString }
      assert(listed.map(p => new java.io.File(p).getName).toSet === built)

      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val child = new ProcessBuilder(javaBin, "-Xmx256m", s"-Djava.io.tmpdir=$base",
        "-cp", System.getProperty("java.class.path"), "graft.streaming.StageDirs", dir)
        .redirectErrorStream(true).start()
      val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
      assert(child.waitFor() === 0, out)
      val found = out.linesIterator.filter(_.startsWith("stage ")).map(_.stripPrefix("stage ")).toSeq
      assert(found === listed, out)
      assert(stageDirs(base) === built)
      built.foreach(n => assert(Files.exists(new java.io.File(base, s"$n/_kept").toPath), s"$n was rebuilt"))
    }
  }

  test("a stage built on a temp dataset is collected by the next build once the dataset is gone") {
    withTmpdir { base =>
      val twice = StreamingEtl.artifacts.toMap.apply("stream-events-x2")
      val ds = tempDir("graft-stage-ds")
      Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        ds.resolve("events.parquet"))
      val orphan = twice(spark, ds.toString).toString
      assert(stageDirs(base) === Set(new java.io.File(orphan).getName))
      Files.delete(ds.resolve("events.parquet"))
      Files.delete(ds)
      val kept = twice(spark, "/root/testdata/sf0.001").toString
      assert(!new java.io.File(orphan).exists(), "the orphaned stage is collected")
      assert(stageDirs(base) === Set(new java.io.File(kept).getName))
    }
  }
}

/** Prints the directory of every stream stage of the dataset `args(0)`,
  * one `stage <path>` line each, without a Spark session: a stage that
  * had to be built would need one, so a run in a second JVM shows that
  * the stages on disk are found and reused. */
object StageDirs {
  def main(args: Array[String]): Unit =
    StreamingEtl.artifacts.foreach { case (_, stage) => println(s"stage ${stage(null, args(0))}") }
}
