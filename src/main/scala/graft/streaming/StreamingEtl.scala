package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ext.TextAnalysis
import graft.io.Artifacts
import graft.queries.QueryDef
import graft.sources.Tables

/** Structured Streaming face of the event ETL (BASELINE.json
  * north star: "Structured Streaming + DataFrame transformations").
  *
  * Batch/stream parity discipline: every streaming transform here has
  * a batch twin (`q_tumbling_hour`, `q_sessionize`, …), the
  * `q_stream_*` queries of `graft.queries.StreamQueries` are graded
  * against their twins' oracles, and the test suite asserts stream
  * output == batch output on the same data — the same unified-API
  * guarantee Spark itself makes.
  *
  * One run path: every scenario drains through `runStream`, one
  * `Trigger.AvailableNow` run under the harness conf (`withStreamConf`)
  * into one of three sinks — a memory table, parquet files, or a
  * driver-side `foreachBatch` body. Inputs come in three shapes: the
  * events table as a file stream (`eventsStream`), events plus
  * far-future sentinel rows (`sentinelStream`), or an n-file split
  * read one file per micro-batch (`splitStream`). The last two replay
  * a [[Stage]], a per-dataset artifact of `graft.io.Artifacts`.
  *
  * Scale notes: the tumbling aggregate is a streaming state store keyed
  * by (window, event_type) — bounded by watermark eviction; the
  * sessionizer keys state by user_id with an event-time timeout, so
  * state is O(active users), not O(events).
  */
object StreamingEtl {

  /** 1 h tumbling window per event type — the streaming twin of
    * `q_tumbling_hour`. `window()` is epoch-aligned, so window_start
    * equals the batch query's `unix_micros div 3600000000` bucket. */
  def tumblingCounts(events: DataFrame,
                     windowDur: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding-window counts — duration/slide epoch-aligned like
    * `window()`; each event lands in duration/slide windows. Batch twin
    * of `q_sliding_halfhour`. */
  def slidingCounts(events: DataFrame,
                    duration: String = "1 hour", slide: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.groupBy(window(col("ts"), duration, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  /** Narrow row for the sessionizer's stateful stage: the fold only
    * needs (user, event-time, tie-break id), and deserializing the
    * full Event per row — twice: once for the groupByKey key
    * extraction, once in the group iterator — allocates two Strings
    * and a Double box per event on top of that (measured ~10 µs/row
    * at 10×, the stateful stage's dominant cost). `ts` must stay a
    * TimestampType column (not precomputed micros): the event-time
    * timeout requires the watermark-tagged column in the fMGWS
    * input's schema. */
  case class SEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class SessionState(sessionId: Long, lastTsUs: Long,
                          startUs: Long, n: Long)
  case class Session(user_id: Long, session_id: Long, n_events: Long,
                     session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp)

  val SessionGapUs: Long = 1800000000L // 30 min, matches q_sessionize

  /** Streaming sessionization with custom state — the streaming twin of
    * `q_sessionize`. State per user: current session id/extent; a >30 min
    * gap (event time) closes the session and emits it. `flushAtEnd`
    * (test hook) also emits the open session when the input is finite.
    *
    * Within one trigger the group's events arrive unordered — sort the
    * batch by (ts, event_id) before folding into state. Late events that
    * arrive across triggers out of order are the stream's inherent
    * approximation; the watermark bounds how stale they can be. */
  def sessionize(events: Dataset[Event], watermark: String = "1 hour",
                 flushAtEnd: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    // the narrow projection sits AFTER the watermark node (so the
    // selected ts attribute carries the watermark metadata the
    // EventTimeTimeout check requires) and BEFORE the shuffle, so the
    // exchange carries 3-field rows
    def narrow(ds: Dataset[Event]): Dataset[SEv] = ds
      .select(col("user_id"), col("ts"), col("event_id")).as[SEv]
    if (events.isStreaming)
      // event-time timeout: once the watermark passes lastTs + gap the
      // open session is provably closed — emit it and EVICT the state,
      // so state stays O(active users), not O(all users ever seen)
      narrow(events.withWatermark("ts", watermark))
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          fold(flushAtEnd = false, eventTimeTimeout = true))
    else
      narrow(events).groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          fold(flushAtEnd, eventTimeTimeout = false))
  }

  /** Exact event-time micros: `Timestamp.getTime` truncates to ms,
    * and the events table has sub-ms timestamps — a gap that is just
    * over the session limit in micros could compute as exactly the
    * limit after ms truncation and split sessions differently than
    * the batch twin. */
  private def tsUs(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000L

  /** Micros → Timestamp without losing the sub-ms component. */
  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def fold(flushAtEnd: Boolean, eventTimeTimeout: Boolean)(
      userId: Long, batch: Iterator[SEv],
      state: GroupState[SessionState]): Iterator[Session] = {
    val out = Seq.newBuilder[Session]
    def emit(s: SessionState): Unit =
      out += Session(userId, s.sessionId, s.n, usToTs(s.startUs), usToTs(s.lastTsUs))

    if (state.hasTimedOut) {
      // watermark passed lastTs + gap with no new events: session over
      state.getOption.foreach(emit)
      state.remove()
      return out.result().iterator
    }

    // primitive comparator over pre-extracted micros, no tuple boxing
    val evs = batch.map(e => (tsUs(e.ts), e.event_id)).toArray
    java.util.Arrays.sort(evs, new java.util.Comparator[(Long, Long)] {
      override def compare(a: (Long, Long), b: (Long, Long)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    var st = state.getOption.orNull
    for (e <- evs) {
      val tUs = e._1
      if (st == null) st = SessionState(1L, tUs, tUs, 1L)
      else if (tUs - st.lastTsUs > SessionGapUs) {
        emit(st)
        st = SessionState(st.sessionId + 1, tUs, tUs, 1L)
      } else st = st.copy(lastTsUs = math.max(st.lastTsUs, tUs), n = st.n + 1)
    }
    if (st != null) {
      if (flushAtEnd) { emit(st); state.remove() }
      else {
        state.update(st)
        if (eventTimeTimeout)
          state.setTimeoutTimestamp(st.lastTsUs / 1000 + SessionGapUs / 1000 + 1)
      }
    }
    out.result().iterator
  }

  /** Read the events table as a file stream (maxFilesPerTrigger-style
    * incremental ingest of the same parquet dir the batch queries use). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // streaming source needs an explicit schema; declare the PHYSICAL
    // on-disk ts encoding, then normalize (nanos-long or NTZ → TZ)
    val reader = spark.readStream.schema(Tables.eventsRawSchema(spark, dir))
    val tablePath = new java.io.File(s"$dir/events.parquet")
    Tables.normalizeEventsTs(
      if (tablePath.isDirectory)
        // Spark-written layout (the ScaleBench 10× dirs): the table IS
        // a directory — point the file source straight at it
        reader.parquet(tablePath.toString)
      else
        // single-file layout (the driver testdata): the file source
        // wants a directory; glob-filter to the events table
        reader.option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  // ---- the one run path ---------------------------------------------------

  /** Where a run's rows go. */
  private sealed trait Sink
  /** A memory table under a per-run view name: digest-sized results. */
  private case object Memory extends Sink
  /** Parquet files at `out`, read back through the sink's commit log:
    * row-heavy results (see `fileSinkRun`). */
  private final case class Parquet(out: String) extends Sink
  /** A driver-side body per micro-batch; the scenario keeps its result
    * in its own state, so the run returns an empty frame. */
  private final case class EachBatch(f: (DataFrame, Long) => Unit) extends Sink

  /** Drain `ds` into `sink` under `Trigger.AvailableNow` (process
    * everything available, then stop) inside `withStreamConf`, and
    * return what the sink holds. A failed run (a `foreachBatch` body
    * that throws) propagates as the `StreamingQueryException` of
    * `awaitTermination`. `checkpoint` pins the run's checkpoint dir —
    * needed to restart from it; otherwise the run checkpoints under
    * the conf's scratch base. */
  private def runStream(ds: Dataset[_], sink: Sink,
      mode: OutputMode = OutputMode.Append, needsFlush: Boolean = false,
      rowsHint: Long = 0L, checkpoint: Option[String] = None): DataFrame = {
    val spark = ds.sparkSession
    // unique view name per run: memory-sink query names register temp
    // views, and Bench/Verify may run a scenario more than once a session
    val view = s"graft_stream_${streamRuns.incrementAndGet()}"
    withStreamConf(spark, needsFlush, rowsHint) {
      val w = ds.toDF().writeStream.outputMode(mode).trigger(Trigger.AvailableNow())
      val pinned = checkpoint.fold(w)(w.option("checkpointLocation", _))
      (sink match {
        case Memory => pinned.format("memory").queryName(view)
        case Parquet(out) => pinned.format("parquet").option("path", out)
        case EachBatch(f) => pinned.foreachBatch(f)
      }).start().awaitTermination()
    }
    sink match {
      case Memory =>
        // the resolved frame keeps the sink's MemoryPlan: drop the view,
        // or every run's rows stay reachable from the session catalog
        val rows = spark.table(view)
        spark.catalog.dropTempView(view)
        rows
      case Parquet(out) => spark.read.parquet(out)
      case EachBatch(_) => spark.emptyDataFrame
    }
  }

  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** State-store partition count for the harness's streaming runs.
    * Stateful operators allocate one state store PER shuffle
    * partition per store (a stream-stream join holds four stores per
    * partition), and every micro-batch pays each store's load+commit
    * — at this harness's data scale that fixed cost dominates the
    * actual state work, measured ~1 s per join query at 8 partitions
    * vs 4. Production sizes `spark.sql.shuffle.partitions` to the
    * cluster; this only right-sizes the LOCAL harness. */
  private val StreamShufflePartitions = 4L

  /** Run one streaming scenario under the harness streaming conf:
    * right-sized state-store partitioning, and no-data micro-batches
    * only where the scenario needs the end-of-input watermark flush
    * (outer-join null padding, session/SCD2 timeout emission,
    * append-mode window close). Scenarios whose sinks see every row
    * in the data batches — Complete-mode aggregates, inner joins,
    * streaming dedup, foreachBatch merges — skip the trailing
    * no-data batch, which is pure fixed cost for them (~0.8 s
    * measured). The conf is session-global, so the block SERIALIZES
    * streaming runs (they are sequential in Bench/Verify anyway). */
  private def withStreamConf[T](spark: SparkSession, needsFlush: Boolean,
      rowsHint: Long)(body: => T): T = synchronized {
    // checkpoints on tmpfs when available (see scratchDir), reclaimed
    // after the run. Every checkpoint file (offsets and commits logs,
    // state-store files, a file sink's _spark_metadata) goes through
    // LocalCheckpointFileManager: Hadoop's local file system without
    // the native library forks a `chmod` per created file and dir and a
    // `readlink` per rename: 264 processes per q_stream_update_mode
    // run, 0 with the manager (its warm run 1.01 → 0.69 s at sf0.01 on
    // 4 cores; walCommit + commitOffsets about 30 → 2 ms per batch).
    val ckptBase = scratchDir("graft_ckpt")
    // throughput-aware state partitioning: 4 partitions is right when
    // the per-store fixed load+commit cost dominates (the bench-scale
    // default), but the stateful operator's wall is (rows through it
    // per run) / partitions — the r15 state-SIZE hint left sessionize
    // at 4 partitions (15k users) while 1M event rows flowed through
    // its fMGWS stage, and capped dedup at 10 while its per-partition
    // commit was the sweep's hot stage (2.5 s max task). Size by ROWS
    // PROCESSED: one partition per ~25k rows keeps per-task state
    // work flat as data grows, capped at the executor width (more
    // tasks than cores adds store-open cost, no parallelism).
    // Production sizes this to the cluster; the hint only right-sizes
    // the LOCAL harness the same way a cluster operator would.
    val parts = math.max(StreamShufflePartitions,
      math.min(spark.sparkContext.defaultParallelism.toLong,
        rowsHint / 25000L))
    try QueryDef.withConf(spark,
        "spark.sql.streaming.checkpointLocation" -> ckptBase.toString,
        "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[LocalCheckpointFileManager].getName,
        "spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          needsFlush.toString)(body)
    finally rmTree(ckptBase)
  }

  /** Run a streaming Dataset to a parquet FILE sink and return the
    * committed result. For row-heavy outputs (dedup: the whole deduped
    * table; sessionize: ~one session per event) the memory sink
    * collects everything single-threaded onto the driver — a serial
    * floor that grows linearly with data. The parquet file sink writes
    * from the state partitions in parallel with exactly-once commit
    * via `_spark_metadata` (which the read-back honors), and is the
    * sink shape a production pipeline would use anyway. Output and
    * checkpoint are the dataset's `filesink-<tag>` and
    * `filesink-<tag>-ckpt` dirs of `Artifacts.output`, both deleted on
    * entry: a leftover checkpoint would RESUME against a previous
    * run's source files (measured as a basePath mismatch abort), and
    * each timed trial must replay the full stream from scratch. The
    * returned DataFrame reads the output lazily, so it stays readable
    * until the tag's next run on the same dataset. */
  private def fileSinkRun(ds: Dataset[_], dir: String, needsFlush: Boolean,
      rowsHint: Long, tag: String): DataFrame = {
    val out = Artifacts.output(dir, s"filesink-$tag")
    val ckpt = Artifacts.output(dir, s"filesink-$tag-ckpt")
    Seq(out, ckpt).foreach(p => rmTree(java.nio.file.Paths.get(p)))
    runStream(ds, Parquet(out), needsFlush = needsFlush, rowsHint = rowsHint,
      checkpoint = Some(ckpt))
  }

  /** Rows a `foreachBatch` collector gathered on the driver, as a
    * local frame. */
  private def localFrame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Execute the tumbling aggregate as a REAL Structured Streaming run:
    * events file stream → watermarked window agg → memory sink, under
    * `Trigger.AvailableNow`. Complete output mode so windows still
    * inside the watermark at end-of-input are emitted too — the final
    * table equals the batch twin `q_tumbling_hour`, which is the
    * unified-API guarantee the driver's oracle then checks against
    * DuckDB. The memory sink is the harness choice for an
    * aggregate-sized result; production points the same writeStream
    * at a real sink. */
  def tumblingCountsViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(tumblingCounts(eventsStream(spark, dir)), Memory, OutputMode.Complete)

  /** Sliding-window twin of `q_sliding_halfhour`, executed as a real
    * streaming run — same discipline as `tumblingCountsViaStream`. */
  def slidingCountsViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(slidingCounts(eventsStream(spark, dir)), Memory, OutputMode.Complete)

  /** Windowed top-k — the "trending now" product op: the hourly
    * per-type counts come from the REAL streaming aggregation (same
    * run as `tumblingCountsViaStream`), then the per-window rank
    * rides the already-window-sized result (a k-row-per-window sort,
    * never a second pass over events). Deterministic ties:
    * (n desc, event_type). */
  def windowedTopKViaStream(spark: SparkSession, dir: String,
                            k: Int = 3): DataFrame = {
    val counts = tumblingCountsViaStream(spark, dir)
    counts.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))
          .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rank") <= k)
      .select(col("window_start"), col("rank"), col("event_type"),
        col("n"))
  }

  /** Per-run scratch: a run's checkpoint and state stores, and what a
    * scenario writes for one run only (foreachBatch state versions,
    * the late-data run's growing input dir). Every micro-batch writes
    * its offsets and commits log entries and state files here, and a
    * RAM-backed tmpfs (/dev/shm) keeps those writes in memory; falls
    * back to java.io.tmpdir where no tmpfs exists. Per-dataset inputs
    * are [[Stage]]s of the artifact store instead. Production clusters
    * point checkpoints at durable storage — this is the LOCAL-HARNESS
    * choice only, correctness never depends on it. */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** Recursive delete of a run's scratch or output dir. */
  private def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    try {
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
    } catch { case _: java.io.IOException => () }
  }

  // ---- input stages -------------------------------------------------------
  // A scenario that does not read the events table directly replays a
  // stage: the dataset's files copied, joined by sentinel rows, or split
  // into n files. A stage is a deterministic function of the dataset, so
  // it is an artifact of graft.io.Artifacts: built once per dataset,
  // reused by every trial and every later JVM, and collected with its
  // dataset. It is keyed by what it holds, not by the scenario that
  // reads it, so scenarios with the same input share one directory. The
  // file stream source skips the store's `_GRAFT_ARTIFACT` marker, as
  // it skips every name starting with `_`.

  /** One stage: `kind` names its contents and, with `key`, keys its
    * directory; `build` writes the files into `out`. Two stages of one
    * dataset must differ in `kind`: the store collects every other
    * generation of a kind. */
  private sealed abstract class Stage(val kind: String, key: Any*) {
    protected def build(spark: SparkSession, dir: String, out: java.nio.file.Path): Unit

    /** The stage's directory for dataset `dir`, built on first use. */
    def path(spark: SparkSession, dir: String): String =
      Artifacts.dir(dir, kind, "v1", key: _*) { out =>
        build(spark, dir, java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out)))
      }
  }

  /** The events table plus far-future rows (event_id, user_id,
    * event_type), `horizonDays` past the last event, in a file named to
    * sort last (`zz_sentinel.parquet`). */
  private final class Sentinels(rows: Seq[(Long, Long, String)], horizonDays: Int)
      extends Stage(s"stream-sentinel-${rows.map(_._3).mkString("-")}-${horizonDays}d",
        rows, horizonDays) {
    protected def build(spark: SparkSession, dir: String, out: java.nio.file.Path): Unit = {
      copyEventsTable(dir, out, "a")
      writeOneFile(sentinelDf(spark, dir, rows, horizonDays), out.resolve("zz_sentinel.parquet"))
    }
  }

  /** `cols` of `table`, split by `repartition(files)` into `files` files. */
  private final class Split(table: String, cols: Seq[String], files: Int)
      extends Stage(s"stream-split-$table-${cols.mkString("-")}-x$files") {
    protected def build(spark: SparkSession, dir: String, out: java.nio.file.Path): Unit =
      Tables.load(spark, dir, table).select(cols.map(col): _*)
        .repartition(files).write.mode("overwrite").parquet(out.toString)
  }

  /** The far-future click + purchase pair of a synthetic user that
    * drags both join watermarks past every real row. */
  private val JoinFlush = new Sentinels(Seq((-1L, -1L, "click"), (-2L, -1L, "purchase")), 30)
  private val ViewFlush = new Sentinels(Seq((-1L, -1L, "view")), 30)
  private val EosFlush = new Sentinels(Seq((-1L, -1L, "eos")), 30)
  private val Scd2Flush = new Sentinels(Seq((-1L, -1L, "view")), 90)

  /** The (ts, event_type, value) slice the window scenarios read. */
  private val WindowCols = Seq("ts", "event_type", "value")
  private val WindowSplit2 = new Split("events", WindowCols, 2)
  private val WindowSplit3 = new Split("events", WindowCols, 3)
  private val DocSplit = new Split("documents", Seq("doc_id", "text"), 3)
  private val UserSplit = new Split("events", Seq("user_id"), 3)

  /** The events table staged twice (`a_…` and `b_…`), so every event
    * arrives as an exact duplicate. */
  private object EventsTwice extends Stage("stream-events-x2") {
    protected def build(spark: SparkSession, dir: String, out: java.nio.file.Path): Unit =
      for (n <- Seq("a", "b")) copyEventsTable(dir, out, n)
  }

  /** The late-data scenario's two tranches: everything from the third
    * UTC day on plus one flush row 30 days past the last event
    * (`a_ontime.parquet`), and the first two days (`b_late.parquet`). */
  private object LateTranches extends Stage("stream-late-tranches") {
    protected def build(spark: SparkSession, dir: String, out: java.nio.file.Path): Unit = {
      val ev = Tables.events(spark, dir).select(WindowCols.map(col): _*)
      val bounds = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val DayUs = 86400000000L
      // UTC-day boundary arithmetic in exact micros, mirroring the
      // oracle's min(ts)::DATE + 2
      val cutoffUs = (Math.floorDiv(bounds.getLong(0), DayUs) + 2) * DayUs
      val sentinelUs = bounds.getLong(1) + 30 * DayUs
      val sentinel = spark.range(1).select(
        timestamp_micros(lit(sentinelUs)).as("ts"),
        lit("__flush").as("event_type"), lit(0.0).as("value"))
      writeOneFile(ev.filter(unix_micros(col("ts")) >= cutoffUs).union(sentinel),
        out.resolve("a_ontime.parquet"))
      writeOneFile(ev.filter(unix_micros(col("ts")) < cutoffUs),
        out.resolve("b_late.parquet"))
    }
  }

  /** Every stage the `q_stream_*` queries read, by kind, so Bench's
    * artifact phase builds them (`graft.Bench.buildArtifacts`). */
  val artifacts: Seq[(String, (SparkSession, String) => Any)] =
    Seq(JoinFlush, ViewFlush, EosFlush, Scd2Flush, WindowSplit2, WindowSplit3,
      DocSplit, UserSplit, EventsTwice, LateTranches).map(s => s.kind -> s.path _)

  /** Write `df` as a single parquet file at `target` (coalesce-to-one
    * part + move — the file-source staging shape). */
  private def writeOneFile(df: DataFrame, target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = scratchDir("graft_onefile")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst()
        finally listing.close()
      require(part.isPresent, "staged parquet part file not found")
      Files.move(part.get(), target, StandardCopyOption.REPLACE_EXISTING)
    } finally rmTree(tmp)
  }

  /** One-row-per-entry far-future sentinel rows in the events table's
    * RAW physical schema (int64-nanos or timestamp ts encoding). */
  private def sentinelDf(spark: SparkSession, dir: String,
      rows: Seq[(Long, Long, String)], horizonDays: Int): DataFrame = {
    import spark.implicits._
    val rawSchema = Tables.eventsRawSchema(spark, dir)
    val sentinelUs = Tables.eventsSpanUs(spark, dir)._2 +
      horizonDays.toLong * 86400 * 1000000
    rows.map { case (id, uid, typ) => (id, sentinelUs, uid, typ, 0.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts") * lit(1000L)
        case t => timestamp_micros(col("ts")).cast(t)
      })
  }

  /** Copy the events table into `stage` under name prefix `tag`,
    * preserving the raw physical encoding — handles BOTH layouts: the
    * driver testdata's single file, and a Spark-written DIRECTORY (the
    * ScaleBench 10× dirs), whose part files each copy as their own
    * staged file (a naive Files.copy of a directory copies an EMPTY
    * dir and the stream silently reads zero rows). */
  private def copyEventsTable(dir: String, stage: java.nio.file.Path,
      tag: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(s"$dir/events.parquet")
    if (Files.isDirectory(src)) {
      val listing = Files.list(src)
      try {
        val parts = listing.iterator()
        var i = 0
        while (parts.hasNext) {
          val p = parts.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            Files.copy(p, stage.resolve(f"${tag}_events_$i%04d.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
            i += 1
          }
        }
      } finally listing.close()
    } else
      Files.copy(src, stage.resolve(s"${tag}_events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
  }

  /** Events staged in `stage` as one stream: read under the raw
    * physical schema (whatever ts encoding the staged files use —
    * int64 nanos or timestamp — every file, sentinels included, reads
    * under it), then normalized. */
  private def stagedEventsStream(spark: SparkSession, dir: String,
      stage: String): DataFrame =
    Tables.normalizeEventsTs(spark.readStream
      .schema(Tables.eventsRawSchema(spark, dir)).parquet(stage))

  /** events.parquet plus the far-future sentinel file of `flush`, read
    * as one stream. The sentinel sorts LAST by name, so
    * `maxFilesPerTrigger=1` would run it as its own batch; a plain
    * AvailableNow read lists both in one batch (the watermark still
    * advances AFTER that batch, so the no-data micro-batch flushes
    * expiring state either way). */
  private def sentinelStream(spark: SparkSession, dir: String,
      flush: Sentinels): DataFrame =
    stagedEventsStream(spark, dir, flush.path(spark, dir))

  /** A split stage read back one file per micro-batch, so the run has
    * one real batch per file. */
  private def splitStream(spark: SparkSession, dir: String, split: Split): DataFrame = {
    val stage = split.path(spark, dir)
    spark.readStream.schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
  }

  /** Watermarked streaming dedup — the exactly-once ingest pattern.
    * The events table is deliberately staged TWICE into the stream, so
    * every event arrives as an exact duplicate;
    * `dropDuplicatesWithinWatermark(event_id)` must collapse them back
    * to one copy each (the driver oracle compares the result against
    * the single-copy batch aggregate — a silently-broken dedup reads
    * 2x and hash-fails). State is keyed by event_id and EVICTED once
    * the watermark passes the event's time + delay, so it stays
    * O(events inside the watermark horizon), not O(all events ever). */
  def dedupViaStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = EventsTwice.path(spark, dir)
    // project BEFORE the stateful op: streaming state ops don't get
    // automatic column pruning through the shuffle, and the dedup's
    // consumer aggregates only (event_type, event_id, value) — carrying
    // the full row doubles shuffle + sink bytes for nothing. `ts` stays
    // for the watermark/eviction clock.
    val in = stagedEventsStream(spark, dir, stage)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

    // dedup state is keyed by event_id — one row per event inside the
    // watermark horizon, i.e. ~the whole table under AvailableNow —
    // and every staged row flows through the store (free from the
    // parquet footer; ×2 for the duplicate copy)
    val rowsHint = 2L * Tables.footerRowCount(spark, dir, "events")
    fileSinkRun(in, dir, needsFlush = false, rowsHint = rowsHint, tag = "dedup")
  }

  /** The click/purchase interval join over ONE streaming source — a
    * self-join, so the micro-batch tracks one file source (one listing,
    * one offset range) instead of two: each click matched to the same
    * user's purchases in the next 10 minutes, with `delta_us` between
    * them. Both sides are watermarked and the join predicate carries
    * the explicit event-time range, so the state store can evict a
    * click the moment the purchase-side watermark passes
    * `click_ts + 10 min` (and vice versa): state is O(events inside
    * the horizon), not O(stream). */
  private def clickPurchaseJoin(src: DataFrame, joinType: String): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        joinType)
      .withColumn("delta_us",
        unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
  }

  /** Stream-stream INTERVAL join — the attribution pattern
    * (`clickPurchaseJoin`). Inner-join results emit as soon as both
    * sides arrive — no end-of-stream flush sentinel needed, unlike the
    * sessionizer.
    *
    * Batch/stream parity: the driver oracle for `q_stream_join` is the
    * plain batch interval join over the same table, which is exactly
    * the unified-API guarantee. */
  def intervalJoinViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(clickPurchaseJoin(eventsStream(spark, dir), "inner")
      .select("click_id", "purchase_id", "user_id", "delta_us"), Memory)

  /** LEFT OUTER stream-stream interval join — the shape the inner join
    * cannot express: clicks with NO purchase in the next 10 minutes
    * must STILL be emitted, null-padded, and that can only happen once
    * the purchase-side watermark has passed `click_ts + 10 min` (until
    * then the match might still arrive). The staged input carries a
    * far-future sentinel click+purchase pair for a synthetic user; the
    * watermark advances only AFTER a micro-batch, so processing table
    * and sentinel together in ONE AvailableNow batch still leaves the
    * null-pad flush to the trailing no-data micro-batch — same
    * semantics as a sentinel-only batch, one stateful-join pass
    * cheaper. State stays O(events inside the 1-hour-plus-10-minute
    * horizon) at any scale. The driver oracle is the equivalent batch
    * LEFT JOIN — unified-API parity including the unmatched rows. */
  def leftOuterJoinViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(clickPurchaseJoin(sentinelStream(spark, dir, JoinFlush), "leftOuter")
      .select("click_id", "user_id", "purchase_id", "delta_us"),
      Memory, needsFlush = true)
      .filter(col("click_id") >= 0)

  /** FULL OUTER stream-stream interval join — both unmatched sides
    * must eventually emit null-padded: clicks with no purchase in
    * their 10-minute window AND purchases no click preceded. Same
    * sentinel discipline as the left-outer run (the far-future click +
    * purchase pair drags both watermarks forward after the single data
    * batch, so the no-data batch expires and flushes all state).
    * Oracle is the batch FULL JOIN. */
  def fullOuterJoinViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(clickPurchaseJoin(sentinelStream(spark, dir, JoinFlush), "fullOuter")
      .select(col("click_id"),
        coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("purchase_id"), col("delta_us")),
      Memory, needsFlush = true)
      // drop the sentinel rows from BOTH sides
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)

  /** Streaming materialized-view maintenance via `foreachBatch` — the
    * production shape of `q_incremental_agg`: each micro-batch's
    * partial daily aggregates merge into a parquet state table
    * (read + union + re-aggregate + versioned write, the
    * engine-agnostic upsert). Counts and decimal sums merge
    * associatively, so the final state is independent of batch
    * boundaries — asserted by staging the input as THREE files with
    * `maxFilesPerTrigger=1`, which forces multiple real merge rounds
    * under `Trigger.AvailableNow`. State versions are immutable
    * (v0, v1, …): a batch reads v(n-1) and writes v(n), never
    * overwriting what it reads — the same discipline a warehouse
    * upsert needs for atomic swap + time travel. */
  def incrementalAggViaStream(spark: SparkSession, dir: String): DataFrame = {
    // 3 files: two real merge rounds (v1 = v0 + batch1, v2 = v1 +
    // batch2) exercise the associative multi-round upsert; counts and
    // decimal sums merge identically under any split, so the rollup
    // (and its oracle) does not depend on the file count, while each
    // further file costs one ~8-job foreachBatch round (state read +
    // versioned write).
    val in = splitStream(spark, dir, WindowSplit3)
    val stateBase = scratchDir("graft_mv_state")
    var statePath: Option[String] = None
    runStream(in, EachBatch { (batch, batchId) =>
      val partial = batch
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
      val merged = statePath match {
        case Some(p) => spark.read.parquet(p).unionByName(partial)
          .groupBy(col("day"), col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
        case None => partial
      }
      val out = s"$stateBase/v$batchId"
      merged.write.mode("overwrite").parquet(out)
      statePath = Some(out)
    })

    // final rollup off the maintained state; materialize before the
    // state versions are deleted
    val rows = spark.read.parquet(statePath.getOrElse(
      throw new IllegalStateException("stream produced no state")))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_total"),
        sum(col("sv")).cast("double").as("sum_value"),
        count(lit(1)).as("n_days"),
        max(col("n")).as("max_day_n"))
      .orderBy(col("event_type"))
    try QueryDef.digest(spark, rows) finally rmTree(stateBase)
  }

  /** UPDATE output mode, demonstrated for real — the third output
    * mode (Append waits for watermark close, Complete re-emits
    * everything; Update emits per micro-batch ONLY the windows whose
    * aggregate CHANGED in that batch). Input staged as two files
    * under `maxFilesPerTrigger = 1` → two real batches; every
    * emission lands in a CHANGE LOG tagged with its batchId (the
    * CDC-to-downstream shape Update mode exists for; the log is
    * window-digest-sized — changed windows per batch — so it collects
    * to the driver, the same place a CDC producer would serialize it).
    * Windows spanning batch boundaries are necessarily emitted more
    * than once along the way (asserted in `StreamingEtlSpec`: log
    * strictly larger than its distinct keys). Returns the log rows,
    * `__batch` last, and their schema. */
  private[streaming] def updateModeChangeLog(spark: SparkSession, dir: String)
      : (Seq[Row], StructType) = {
    // a RANDOM split is what makes cross-batch window updates common
    // (hash-partitioned rows of every window land in every file); TWO
    // files suffice for that — every window is emitted in batch 0 and
    // re-emitted updated in batch 1, which is the Update-mode point.
    // A third file only re-pays a micro-batch's fixed cost (warm
    // triggerExecution 0.2–0.4 s per batch at sf0.1 on 4 cores)
    // without demonstrating anything new; the latest emission per key
    // is split-count-invariant.
    val in = splitStream(spark, dir, WindowSplit2)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    @volatile var outSchema: StructType = null
    // a finite watermark would drop genuinely-on-time rows that land
    // in a later file of the random split, so this demo runs with an
    // effectively infinite allowed lateness — the operator under test
    // is Update-mode EMISSION, not lateness (q_stream_late_data
    // grades that)
    runStream(tumblingCounts(in, watermark = "3650 days"),
      EachBatch { (batch, batchId) =>
        val tagged = batch.withColumn("__batch", lit(batchId))
        outSchema = tagged.schema
        tagged.collect().foreach(log.add)
      }, OutputMode.Update)
    import scala.jdk.CollectionConverters._
    (log.asScala.toSeq, outSchema)
  }

  /** The downstream table the Update-mode change log reconstructs —
    * must equal the batch aggregate (graded by `q_stream_tumbling`'s
    * oracle). */
  def updateModeViaStream(spark: SparkSession, dir: String): DataFrame = {
    val (log, schema) = updateModeChangeLog(spark, dir)
    // latest emission per (window_start, event_type) wins
    val latest = log.groupBy(r => (r.get(0), r.getString(1)))
      .map { case (_, emissions) => emissions.maxBy(_.getLong(4)) }
      .map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3))).toSeq
    localFrame(spark, latest, StructType(schema.fields.take(4)))
  }

  /** Checkpoint RECOVERY, demonstrated for real: the tumbling
    * aggregate runs over the events staged as two files
    * (`maxFilesPerTrigger = 1` → two micro-batches) with a
    * checkpointed state store; batch 1 CRASHES the query (an
    * exception thrown before any side effect — a simulated executor
    * failure mid-stream). The restarted query resumes from the
    * checkpoint: the offsets WAL replays batch 1 exactly as planned,
    * the state store recovers batch 0's window state, and the
    * remaining input finishes under `AvailableNow`. The final
    * complete-mode aggregate must equal the batch twin
    * (`q_tumbling_hour`'s oracle) — failure + restart is invisible in
    * the result, which is Structured Streaming's exactly-once
    * contract and the property this query makes driver-gradable.
    * Each batch's output lands in an immutable versioned state dir
    * (foreachBatch, the production sink shape — a memory sink is not
    * fault-tolerant and cannot honestly demonstrate recovery). */
  def recoverTumblingViaStream(spark: SparkSession, dir: String): DataFrame = {
    // TWO staged files: the recovery demonstration needs exactly (a)
    // one batch committed before the crash, (b) a crash, (c) the
    // crashed batch replayed from the WAL after restart; a third file
    // only re-runs the padded tail at about 0.3 s per batch (warm
    // triggerExecution at sf0.1 on 4 cores). The Complete-mode result
    // over all input is split-count-invariant, so the oracle (the batch
    // tumbling aggregate) does not depend on the file count.
    val agg = tumblingCounts(splitStream(spark, dir, WindowSplit2))
    val cp = scratchDir("graft_rec_cp")
    val stateBase = scratchDir("graft_rec_state")
    @volatile var lastState: Option[String] = None
    def run(crashAtBatch: Long): DataFrame =
      runStream(agg, EachBatch { (batch, batchId) =>
        if (batchId == crashAtBatch)
          throw new RuntimeException("graft: simulated failure mid-stream")
        val out = s"$stateBase/v$batchId"
        batch.write.mode("overwrite").parquet(out)
        lastState = Some(out)
      }, OutputMode.Complete, checkpoint = Some(cp.toString))
    // batch 0 commits, batch 1 dies mid-flight: the simulated crash
    try run(crashAtBatch = 1)
    catch { case _: StreamingQueryException => () }
    run(crashAtBatch = -1) // recover from checkpoint, replay batch 1

    // a hollow recovery (restart that processed nothing after the
    // crash point) must fail loudly, not return batch 0's partial agg:
    // only the restarted run can write v1 (run 1 crashed batch 1
    // before its side effect)
    val ver = lastState.map(p => p.substring(p.lastIndexOf("/v") + 2).toLong)
    require(ver.exists(_ >= 1),
      s"recovery did not process post-crash batches (last state: $lastState)")
    try QueryDef.digest(spark, spark.read.parquet(lastState.get))
    finally { rmTree(cp); rmTree(stateBase) }
  }

  /** Late-data DROP discipline, demonstrated for real: run 1 streams
    * everything from day 2 onward (plus one far-future flush
    * sentinel) through a watermarked tumbling aggregate in APPEND
    * mode (Complete mode never drops late rows by definition) with a
    * checkpoint; the sentinel drags the watermark past every real
    * window, so all of them emit. Then the first two days are staged
    * and run 2 RESUMES from the checkpoint: the watermark is part of
    * checkpointed state, so the late tranche arrives ~28 days behind
    * it and must be discarded wholesale — this also demonstrates that
    * watermark discipline survives a restart. The sentinel's own
    * window never closes, so it self-excludes. The driver oracle is
    * the batch aggregate over ONLY the on-time tranche: a stream that
    * silently kept late rows (or failed to flush) hash-fails. */
  def lateDataViaStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    // the two tranche FILES are a stage; the run's input dir itself
    // must be fresh per run because the late tranche is added
    // mid-scenario and the checkpoint must start empty
    val tranches = java.nio.file.Paths.get(LateTranches.path(spark, dir))
    val stage = scratchDir("graft_late_stage")
    val cp = scratchDir("graft_late_cp")
    def stageTranche(name: String): Unit =
      Files.copy(tranches.resolve(name), stage.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    stageTranche("a_ontime.parquet")
    val agg = tumblingCounts(spark.readStream
      .schema(spark.read.parquet(stage.toString).schema)
      .parquet(stage.toString), watermark = "1 hour")

    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    @volatile var outSchema: StructType = null
    @volatile var lastBatch = -1L
    def run(): Unit = runStream(agg, EachBatch { (batch, batchId) =>
      outSchema = batch.schema
      batch.collect().foreach(emitted.add)
      lastBatch = math.max(lastBatch, batchId)
    }, needsFlush = true, checkpoint = Some(cp.toString))
    run() // on-time tranche; sentinel flushes every real window
    val batchesAfterRun1 = lastBatch
    stageTranche("b_late.parquet")
    run() // resume: restored watermark drops the whole late tranche
    require(lastBatch > batchesAfterRun1,
      s"late tranche was never processed (last batch: $lastBatch)")

    import scala.jdk.CollectionConverters._
    val rows = emitted.asScala.toSeq.filter(_.getString(1) != "__flush")
    try localFrame(spark, rows, outSchema) finally { rmTree(stage); rmTree(cp) }
  }

  /** OHLC bar resampling as a REAL streaming run — struct-min/max
    * aggregates (open = value at the earliest (ts, event_id), close at
    * the latest) maintained incrementally in the window state store;
    * the final Complete-mode table must equal the batch q_ohlc_bars.
    * Demonstrates that ORDER-dependent picks (first/last) stream
    * correctly when encoded as monotone struct extremes — the state
    * merge is associative, so batch boundaries cannot change open or
    * close. */
  def ohlcViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bar"),
        unix_micros(col("ts")).as("tus"), col("event_id"),
        floor(col("value") * 1000).cast("long").as("vm"))
      .groupBy(col("event_type"), col("bar"))
      .agg(count(lit(1)).as("n_ticks"),
        min(struct(col("tus"), col("event_id"), col("vm"))).as("__o"),
        max(struct(col("tus"), col("event_id"), col("vm"))).as("__c"),
        max(col("vm")).as("high_milli"), min(col("vm")).as("low_milli"))
      .select(col("event_type"), col("bar").cast("string").as("bar"),
        col("n_ticks"), col("__o.vm").as("open_milli"),
        col("high_milli"), col("low_milli"), col("__c.vm").as("close_milli")),
      Memory, OutputMode.Complete)

  case class AsofEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, vmilli: Long)
  case class QuoteState(tsUs: Long, id: Long, vmilli: Long)
  case class AsofOut(purchase_id: Long, user_id: Long,
                     quote_id: Option[Long], quote_age_us: Option[Long],
                     quote_vmilli: Option[Long])

  /** As-of lookback horizon: a quote older than this relative to the
    * trade is stale and the trade emits null-enriched. */
  val AsofLookbackUs: Long = 3600000000L // 1 hour

  /** Stream-stream KEYED AS-OF enrichment — the trade/quote shape
    * (`AsofJoin.keyedPad` is the batch kernel; this is its streaming
    * twin): each purchase is enriched with the same user's LATEST view
    * at-or-before the purchase time, within a 1 h lookback; no
    * admissible view emits the purchase null-padded (left-outer as-of).
    *
    * Spark's built-in stream-stream joins cannot express "latest
    * prior" (an as-of is an argmax, not a range predicate), so this is
    * exactly the custom-state case: state per user is ONE quote — the
    * latest seen — because events fold in (ts, type, id) order and an
    * as-of never looks further back than the most recent quote. Tie
    * rule matches the batch kernel: a quote AT the trade's timestamp
    * is visible (right sorts before left at equal ts), and among
    * equal-ts quotes the greatest event_id wins (the kernel's
    * `dedupeByTs` convention).
    *
    * State is O(users in the horizon), not O(stream): once the
    * watermark passes `quote_ts + lookback + late-delay`, no
    * still-admissible trade can reach back to that quote, so the
    * event-time timeout EVICTS the user's state. Late events across
    * micro-batches are the stream's inherent approximation (as with
    * the sessionizer); the watermark bounds their staleness. */
  private def asofFold(userId: Long, batch: Iterator[AsofEvent],
      state: GroupState[QuoteState]): Iterator[AsofOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val out = Seq.newBuilder[AsofOut]
    // quotes sort before trades at the same instant — the keyedPad
    // visibility rule (rightTs <= leftTs)
    val evs = batch.toSeq.sortBy(e =>
      (tsUs(e.ts), if (e.event_type == "view") 0 else 1, e.event_id))
    var q = state.getOption.orNull
    for (e <- evs) {
      val t = tsUs(e.ts)
      if (e.event_type == "view") {
        if (q == null || t > q.tsUs || (t == q.tsUs && e.event_id > q.id))
          q = QuoteState(t, e.event_id, e.vmilli)
      } else if (e.event_type == "purchase") {
        // cross-batch guard: a late trade must not match a FUTURE quote
        if (q != null && q.tsUs <= t && t - q.tsUs <= AsofLookbackUs)
          out += AsofOut(e.event_id, userId,
            Some(q.id), Some(t - q.tsUs), Some(q.vmilli))
        else out += AsofOut(e.event_id, userId, None, None, None)
      }
    }
    if (q != null) {
      state.update(q)
      // evict once the watermark proves no admissible trade remains:
      // trades can arrive up to 1 h late (the watermark delay) and look
      // back up to the lookback horizon
      state.setTimeoutTimestamp(
        q.tsUs / 1000 + AsofLookbackUs / 1000 + 3600000 + 1)
    }
    out.result().iterator
  }

  /** The as-of enrichment as a REAL streaming run: events file stream →
    * watermark → `flatMapGroupsWithState` as-of fold → memory sink under
    * `AvailableNow`. Staged as events-plus-sentinel: the far-future
    * sentinel view (reserved `user_id = -1`) drags the watermark 30
    * days forward after the data batch, so the trailing no-data
    * micro-batch fires the event-time timeouts and the state-eviction
    * path genuinely runs (evictions emit nothing — trades emit on
    * arrival — so the result table is unchanged). Driver-graded against
    * the batch as-of twin in SQL (`q_stream_asof`). */
  def asofEnrichViaStream(spark: SparkSession, dir: String): Dataset[AsofOut] = {
    import spark.implicits._
    val in = sentinelStream(spark, dir, ViewFlush)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("vmilli"))
      .as[AsofEvent]

    val enriched = in.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(asofFold)
      .filter(_.user_id >= 0)
    runStream(enriched, Memory, needsFlush = true).as[AsofOut]
  }

  /** Stream-static enrichment — the remaining streaming join shape
    * (intervalJoinViaStream covers stream-stream): each micro-batch
    * joins against a STATIC dimension computed offline (per-user
    * first-seen day — the cohort table), then aggregates per cohort.
    * The static side broadcasts into every micro-batch, which is
    * exactly the production pattern for enriching a stream with a
    * warehouse dim; the driver oracle grades the final table against
    * the batch spelling of the same cohort join. */
  def enrichedCohortViaStream(spark: SparkSession, dir: String): DataFrame = {
    val userDim = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    runStream(eventsStream(spark, dir).join(broadcast(userDim), "user_id")
      .groupBy(col("first_day").cast("string").as("cohort_day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")),
      Memory, OutputMode.Complete)
  }

  /** Streaming heavy hitters — the Misra-Gries sketch maintained
    * across micro-batches: each batch runs the DISTRIBUTED sketch
    * aggregate over its rows (O(k) per partial), and the k-row batch
    * summary merges into the running k-counter state on the driver
    * (sketch-of-sketches: the merge is the same shrink that Spark's
    * partial/final aggregation runs, so the N/(k+1) guarantee holds
    * over the whole stream regardless of batch boundaries — the law
    * `HeavyHittersSpec` pins for batch holds here by the same
    * argument, asserted in `StreamingEtlSpec`). Driver state is k
    * counters — bytes, not data; this is exactly how a production
    * topology ships per-window sketches to a coordinator. Input is
    * staged as 3 files with maxFilesPerTrigger=1 to force multiple real
    * merge rounds. */
  def heavyHittersViaStream(spark: SparkSession, dir: String,
                            k: Int = 64, topN: Int = 15): DataFrame = {
    // 3 files: two cross-batch driver merges exercise the
    // sketch-of-sketches law (pinned in the spec), and the downstream
    // q_stream_heavy_hitters result is the TWO-PASS exact verify over
    // the candidate superset, which the MG guarantee makes
    // batch-split-invariant — each further file only re-pays one
    // aggregate-plus-head batch round (~0.3 s).
    val in = splitStream(spark, dir, DocSplit)
    val state = new graft.functions.MGBuf(k)
    runStream(in, EachBatch { (batch, _) =>
      val sketch = batch
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .agg(graft.functions.HeavyHitters.heavyHitters(col("term"), k))
        .head().getSeq[Row](0)
      // k-row summary -> driver merge (state.merge preserves the
      // mergeable-summaries guarantee); synchronization is free:
      // foreachBatch bodies run sequentially per query
      val batchBuf = new graft.functions.MGBuf(k)
      sketch.foreach(r => batchBuf.counts.put(r.getString(0), r.getLong(1)))
      state.merge(batchBuf)
    })

    import scala.jdk.CollectionConverters._
    val rows = state.counts.asScala.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(topN)
    import spark.implicits._
    rows.toDF("term", "count_lb")
  }

  /** The DETERMINISTIC two-pass heavy-hitter shape (sketch →
    * candidates → exact verify): the streamed Misra-Gries sketch's
    * contents depend on micro-batch boundaries (rows-only forever),
    * but its GUARANTEE — every term with frequency > N/(k+1) survives
    * the per-batch sketches and driver merges — makes the candidate
    * set a superset of the true heavy hitters. One exact count pass
    * restricted to the ≤k broadcast candidates (a ≤(k+1)-group
    * aggregation, never a full-vocabulary shuffle) then yields
    * exactly the terms above N/(k+1) with exact counts — identical
    * for ANY batch split, so DuckDB replays it as plain SQL and the
    * stream query graduates from rows-only to hash-graded (the
    * q_stream_asof stream==batch discipline). */
  def heavyHittersStreamVerified(spark: SparkSession, dir: String,
                                 k: Int = 64): DataFrame = {
    val cands = heavyHittersViaStream(spark, dir, k, topN = k)
      .collect().map(_.getString(0)).toSeq
    val stats = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .select(when(col("term").isin(cands: _*), col("term")).as("cterm"))
      .groupBy(col("cterm")).agg(count(lit(1)).as("cnt"))
      .persist()
    val res = stats
      .crossJoin(broadcast(stats.agg(sum(col("cnt")).as("n"))))
      .filter(col("cterm").isNotNull && col("cnt") * (k + 1) > col("n"))
      .select(col("cterm").as("term"), col("cnt"))
      .orderBy(col("cnt").desc, col("term"))
    QueryDef.digest(spark, res, stats)
  }

  /** Streaming distinct-user cardinality via a KMV sketch: each
    * micro-batch contributes its k smallest distinct 40-bit user
    * hashes; the driver state is the union trimmed back to k. Unlike
    * the Misra-Gries stream sketch, KMV union is ORDER-INDEPENDENT
    * (a set union), so the final sketch — and therefore the estimate —
    * is identical for any batch split and hash-matches a batch oracle
    * exactly. The exact count rides along as the accuracy audit. */
  def kmvDistinctViaStream(spark: SparkSession, dir: String,
                           k: Int = 64): DataFrame = {
    // 3 files: the KMV union keeps the k smallest hashes over ALL
    // input, identical under any batch split, so the estimate (and
    // oracle) does not depend on the file count, while each further
    // file costs one per-batch distinct+collect round.
    val in = splitStream(spark, dir, UserSplit)
    val h40 = pmod(conv(substring(md5(concat(lit("kmv:"),
      col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(1099511627776L))
    val state = new java.util.TreeSet[java.lang.Long]()
    runStream(in, EachBatch { (batch, _) =>
      val part = batch.select(h40.as("h")).distinct()
        .orderBy(col("h")).limit(k).collect().map(_.getLong(0))
      // union + trim: keep the k smallest across all batches seen
      part.foreach(h => state.add(h))
      while (state.size() > k) state.pollLast()
    })

    val n = state.size()
    val est =
      if (n < k) n.toLong
      else (k - 1).toLong * 1099511627776L / state.last()
    val exact = Tables.events(spark, dir)
      .select(col("user_id")).distinct().count()
    import spark.implicits._
    Seq((n.toLong, est, exact,
      (est - exact) * 1000000L / exact))
      .toDF("sketch_n", "est_users", "n_exact", "err_ppm")
  }

  /** The sessionizer executed as a REAL streaming run — the hardest
    * streaming shape (custom `flatMapGroupsWithState` state, Append
    * mode, event-time timeout), driver-graded against `q_sessionize`'s
    * batch oracle.
    *
    * Append mode only emits a session once the watermark proves it
    * closed; sessions still open at end-of-input would never appear.
    * The standard fix is an end-of-stream flush marker: the events
    * file is staged to a scratch dir together with ONE sentinel row
    * 30 days past the real max event time. The sentinel drags the
    * watermark past every real session's `lastTs + gap` on the
    * post-data no-data micro-batch, so every real session times out
    * and is emitted; the sentinel's own (still-open) session is the
    * only state left and is filtered by its reserved `user_id = -1`.
    * All files are listed in one AvailableNow batch (no
    * maxFilesPerTrigger), so the first batch runs at watermark 0 and
    * drops nothing. */
  def sessionizeViaStream(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    val in = sentinelStream(spark, dir, EosFlush)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]

    // state is per-user (small), but EVERY event row flows through the
    // fMGWS stage — partition by throughput, not state size (at 10×
    // the r15 4-partition run put 250k rows per task). Output is
    // ~one session per event at this data's density, so it takes the
    // parallel file sink, not a driver-side memory collect.
    val rowsHint = Tables.footerRowCount(spark, dir, "events")
    fileSinkRun(sessionize(in, watermark = "1 hour").filter(_.user_id >= 0), dir,
      needsFlush = true, rowsHint = rowsHint, tag = "sess")
      .as[Session]
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregation —
    * the built-in operator twin of the custom
    * flatMapGroupsWithState sessionizer above, with the engine's own
    * semantics: a session's window is [first_ts, last_ts + gap), and
    * two events merge iff they are STRICTLY closer than the gap
    * (the fMGWS sessionizer's `> gap` close rule keeps an exact-gap
    * pair together; the native operator splits it — the oracle
    * encodes the native rule). Staged as events-plus-sentinel: the
    * far-future sentinel drags the watermark past every real
    * session's end after the data batch, so the no-data micro-batch
    * flushes them all in Append mode; the sentinel's own open session
    * never emits and is filtered by user_id anyway. State is per
    * (user, open session) and evicted on emission — bounded by the
    * watermark horizon at any scale. */
  def sessionWindowViaStream(spark: SparkSession, dir: String): DataFrame =
    runStream(sentinelStream(spark, dir, EosFlush)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")),
      Memory, needsFlush = true)
      .filter(col("user_id") >= 0)

  // ---- Streaming SCD2 dimension maintenance -----------------------------

  case class Scd2Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String)
  case class Scd2State(curType: String, fromUs: Long, version: Int)
  case class Scd2Row(user_id: Long, version: Int, event_type: String,
      valid_from: java.sql.Timestamp, valid_to: Option[java.sql.Timestamp],
      is_current: Int)

  /** How long a dimension row stays open after its user's last seen
    * event before end-of-stream eviction emits it: longer than the
    * 30-day data span (so no real event can arrive after its own
    * user's timeout fires), shorter than the 90-day sentinel horizon
    * (so the final no-data micro-batch DOES fire every timeout). */
  private val Scd2HoldUs: Long = 31L * 86400 * 1000000

  /** Per-user type-2 dimension fold: a version row opens when the
    * user's event_type changes, closes (emits, is_current=0) when the
    * next change arrives, and the still-open row emits with
    * valid_to = NULL when the event-time timeout proves the stream
    * ended for this user. Equal-timestamp events order by event_id —
    * the exact change-detection order of the batch twin's
    * `lag() OVER (ORDER BY ts, event_id)`. */
  private def scd2Fold(userId: Long, batch: Iterator[Scd2Event],
      state: GroupState[Scd2State]): Iterator[Scd2Row] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(Scd2Row(userId, s.version, s.curType,
        usToTs(s.fromUs), None, 1))
    }
    val out = Seq.newBuilder[Scd2Row]
    val evs = batch.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
    var s = state.getOption.orNull
    var lastUs = 0L
    for (e <- evs) {
      val t = tsUs(e.ts)
      lastUs = math.max(lastUs, t)
      if (s == null) s = Scd2State(e.event_type, t, 1)
      else if (e.event_type != s.curType) {
        out += Scd2Row(userId, s.version, s.curType,
          usToTs(s.fromUs), Some(usToTs(t)), 0)
        s = Scd2State(e.event_type, t, s.version + 1)
      }
    }
    if (s != null) {
      state.update(s)
      state.setTimeoutTimestamp((math.max(lastUs, s.fromUs) + Scd2HoldUs)
        / 1000)
    }
    out.result().iterator
  }

  /** SCD2 dimension maintenance as a REAL streaming run — the
    * continuously-maintained slowly-changing dimension every
    * warehouse feeds from a CDC/event stream. Events file stream →
    * watermark → `flatMapGroupsWithState` version fold → memory sink
    * under `AvailableNow`, staged events-plus-sentinel (reserved
    * `user_id = -1`, 90 days out) so the post-data no-data
    * micro-batch fires every per-user timeout and the open
    * `is_current=1` rows actually emit — Append mode would otherwise
    * hold them forever. Driver-graded against the `q_scd2_dim` batch
    * oracle: closed rows carry the next change's timestamp as
    * valid_to, open rows NULL, versions dense from 1 in
    * (ts, event_id) order. */
  def scd2ViaStream(spark: SparkSession, dir: String): Dataset[Scd2Row] = {
    import spark.implicits._
    val in = sentinelStream(spark, dir, Scd2Flush)
      .filter(col("user_id") < 100) // the batch twin's dimension slice
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Scd2Event]

    val dim = in.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(scd2Fold)
      .filter(_.user_id >= 0)
    runStream(dim, Memory, needsFlush = true).as[Scd2Row]
  }
}
