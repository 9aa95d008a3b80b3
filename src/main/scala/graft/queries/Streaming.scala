package graft
package queries

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.functions.GraftFunctions
import graft.queries.QuerySupport._
import graft.queries.Dedup.{deconGrams, deconScore, docBands, docIndexProbe, gramHashes}
import graft.queries.Multimodal.{m09Parts, probeImageBands}

/** `stNN` Structured Streaming queries.
  *
  * SOURCE SEAM: every st* query runs through one harness, [[stream]],
  * and states only its staged batch files, its source schema and its
  * transform. The harness copies the batches, in list order, into a
  * fresh dir and reads them through the FILE source with
  * maxFilesPerTrigger=1 — test scaffolding that makes micro-batch
  * boundaries, watermark advancement, and state hand-off deterministic
  * and oracle-checkable in tests. The seam is exactly the harness's one
  * `readStream` line: a production deployment swaps
  * `readStream.schema(...).parquet(dir)` for its real unbounded source
  * (`format("kafka")` + the same `ts` watermark, or a rate/socket source)
  * and every transform downstream of that line — watermarking, windowed
  * aggregation, dropDuplicatesWithinWatermark, flatMapGroupsWithState —
  * is unchanged, because none of them reference the source shape. The
  * sentinel batches exist only to close windows/state deterministically
  * at end-of-input; a true unbounded stream closes them by, simply,
  * having more data. */
object Streaming {

  /** Memoized (min, max) event timestamp per sfDir — st01/st03/st04 would
    * each run this scan per query otherwise. */
  private val tsRangeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (java.sql.Timestamp, java.sql.Timestamp)]()
  private def eventsTsRange(s: SparkSession, d: String): (java.sql.Timestamp, java.sql.Timestamp) =
    tsRangeCache.computeIfAbsent(d, _ => {
      val r = t(s, d, "events")
        .agg(min(col("ts").cast("timestamp")), max(col("ts").cast("timestamp"))).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    })

  /** Best-effort recursive delete. It runs in `finally` blocks, where a
    * throw would mask the failure that got there (a failed write can
    * leave a non-empty `_temporary` tree behind). */
  private def deleteTree(f: java.io.File): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try rm(f)
    catch { case scala.util.control.NonFatal(_) => }
  }

  /**
   * Stage every streaming query's micro-batch files ONCE per (sfDir, JVM)
   * — the `dumpDerived` pattern applied to the stream scaffolding (the
   * file-source batches are deterministic functions of the input tables,
   * so st01/st03/st04 re-running the split/coalesce/sentinel writes per
   * query was pure fixed cost; st03 and st04 even share the same halves).
   * [[stream]] COPIES the staged files into each run's own source dir
   * (cheap FS copy) and stamps mtimes there — the file source orders
   * batches by mtime, which must be per-query-run, not per-staging.
   * Staging also makes the batches robust to an input table being a
   * parquet DIRECTORY: a raw copy of a directory-shaped table would
   * silently stage an empty batch.
   */
  private def stagedStreamBatches(s: SparkSession, d: String): Path = {
    val dir = java.nio.file.Paths.get(s"${derivedDir(d)}/stream_batches")
    dumpedPaths.getOrElseUpdate(dir.toString, {
      val events = t(s, d, "events")
      val schema = events.schema
      val (minTs, maxTs) = eventsTsRange(s, d)
      val cutoff = new java.sql.Timestamp((minTs.getTime + maxTs.getTime) / 2)
      Files.createDirectories(dir)
      def stage(df: DataFrame, name: String): Unit = {
        val tmp = Files.createTempDirectory(s"stage_$name")
        try {
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = tmp.toFile.listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          Files.move(part.toPath, dir.resolve(name),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally deleteTree(tmp.toFile) // the _SUCCESS/.crc litter too
      }
      def tsLit(ms: Long) =
        lit(new java.sql.Timestamp(ms)).cast(schema("ts").dataType)
      // m09's dumps are a staging input (st07 reads the delta slice) —
      // materialize them BEFORE the parallel region below, sequentially
      val newImgs = m09Parts(s, d)._1.where(col("nw"))
        .select(col("image_id"), col("phash"))
      val delta = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      val train = t(s, d, "documents").where(col("doc_id") % 43 =!= 0)
      // All 14 staged batch files are independent tiny coalesce(1) write
      // jobs; run them from a small driver pool so the next job's tasks
      // back-fill the idle session instead of queueing behind each
      // serial job's commit (measured ~0.1 s of driver+
      // commit latency per staged file when serial). Job submission is
      // thread-safe; every write lands in its own temp dir and is moved
      // to a distinct file name.
      val work: Seq[(DataFrame, String)] = Seq(
        // st02's one micro-batch: the whole events table
        (events, "events.parquet"),
        // session halves at the midpoint cutoff (st01/st03/st04/st08)
        (events.where(col("ts").cast("timestamp") < cutoff), "b1.parquet"),
        (events.where(col("ts").cast("timestamp") >= cutoff), "b2.parquet"),
        // st03 per-user closing sentinel batch
        (events.select(col("user_id")).distinct()
          .withColumn("event_id", lit(-1L))
          .withColumn("ts", tsLit(maxTs.getTime + 24L * 3600 * 1000))
          .withColumn("event_type", lit("__sentinel"))
          .withColumn("value", lit(0.0)).withColumn("props", lit(""))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*), "st03_sent.parquet"),
        // st05 delta-document micro-batches (the incremental-dedup
        // probe's arriving "new" docs, split to exercise composition)
        (delta.where(col("doc_id") % 10 === 0), "st05_b1.parquet"),
        (delta.where(col("doc_id") % 10 =!= 0), "st05_b2.parquet"),
        // st06 arriving-training-doc micro-batches (d16's TRAIN side)
        (train.where(col("doc_id") % 2 === 0), "st06_b1.parquet"),
        (train.where(col("doc_id") % 2 =!= 0), "st06_b2.parquet"),
        // st07 arriving-image micro-batches: m09's OWN dumped delta
        // slice (`nw`), split by a second hash — reading the dump makes
        // stream-input == m09-input hold by construction
        (newImgs.where(pmod(xxhash64(concat(col("image_id"), lit("|s"))),
          lit(2)) === 0), "st07_b1.parquet"),
        (newImgs.where(pmod(xxhash64(concat(col("image_id"), lit("|s"))),
          lit(2)) =!= 0), "st07_b2.parquet")) ++
        // st01 watermark sentinels: 3 h / 4 h beyond max event time
        Seq(3, 4).map(hrs => (events.limit(1)
          .withColumn("ts", tsLit(maxTs.getTime + hrs * 3600 * 1000L))
          .withColumn("event_type", lit("__sentinel")),
          s"st01_s$hrs.parquet")) ++
        // st04 single-key watermark sentinels (24 h advances the
        // watermark, 25 h guarantees a DATA batch runs with it applied)
        Seq(24, 25).map(hrs => (events.limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", tsLit(maxTs.getTime + hrs * 3600L * 1000))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*),
          s"st04_s$hrs.parquet"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        work.map { case (df, name) =>
          pool.submit(new Runnable { def run(): Unit = stage(df, name) })
        }.foreach(_.get()) // propagate the first failure, if any
      } finally pool.shutdown()
      0 // no part-file bound
    })
    dir
  }

  /** How a stream's rows reach the sink [[stream]] owns. */
  private sealed trait Sink
  /** A streaming transform appended to a parquet file sink. `src()` opens
    * one more file source over the run's batches: each call is its own
    * source with its own offsets (st08 joins two). */
  private final case class Append(transform: (() => DataFrame) => DataFrame) extends Sink
  /** A batch transform over each micro-batch (`foreachBatch`), written
    * with the batchId-keyed overwrite — the idempotent append: a
    * micro-batch replayed from the checkpoint after a partial commit
    * rewrites ITS OWN directory instead of appending duplicate rows. */
  private final case class PerBatch(transform: DataFrame => DataFrame) extends Sink

  /**
   * The one stream harness. Copies the staged `batches`, in list order,
   * into a fresh input dir with increasing mtimes, so the file source
   * (schema `schema`, maxFilesPerTrigger=1) reads one file per
   * micro-batch in list order; runs `sink` over it to completion; returns
   * the sink read back through `s` into a local relation (without
   * `batch_id`, which partition discovery surfaces for [[PerBatch]] sinks
   * and is sink bookkeeping, not data); and deletes the input copy, the
   * checkpoint and the sink dir, which nothing reads after that.
   *
   * The query starts from a child of `s` carrying stream-scoped conf
   * (pinned into the checkpoint at start; `s` never changes):
   *
   *  - `spark.sql.shuffle.partitions` lowered to 8 — the state stores
   *    allocate one instance per shuffle partition PER MICRO-BATCH, a
   *    fixed cost the tiny validation streams pay 3-5× per query at
   *    width 32. At production scale a stream sizes this to its state,
   *    not 8.
   *  - `spark.sql.streaming.noDataMicroBatches.enabled=false` — the
   *    engine otherwise appends an extra NO-DATA micro-batch (a full
   *    plan + state-store lifecycle + sink-commit round) after every
   *    watermark advance, purely to emit/evict EARLIER than the next
   *    data batch would. This is the only place it is set, and it holds
   *    one invariant every st-query keeps: its emission is
   *    DATA-batch-driven, so a result that depends on the watermark has
   *    a later data batch that runs with the advanced watermark. st01
   *    and st04 stage a SECOND, later sentinel precisely so a data batch
   *    runs with the already-advanced watermark (closing every real
   *    window / firing every timeout wall); st02's dedup and st08's inner
   *    join emit on row arrival (their watermarks only bound state);
   *    st03 closes sessions on per-user sentinel ROWS (NoTimeout — a
   *    no-data batch is a no-op); st05-st07 are stateless foreachBatch
   *    probes with no watermark at all. A new stream whose emission
   *    waits on the watermark alone must end its batch list with such a
   *    trailing sentinel, or it silently loses its last windows and
   *    timeouts. At production scale re-enabling no-data batches is a
   *    latency knob (sub-batch emission), not a correctness one.
   */
  private def stream(s: SparkSession, d: String, batches: Seq[String],
      schema: StructType, sink: Sink): DataFrame = {
    val staged = stagedStreamBatches(s, d)
    val in = Files.createTempDirectory("stream_in")
    val ckpt = Files.createTempDirectory("stream_ckpt")
    val out = Files.createTempDirectory("stream_out")
    try {
      val t0 = System.currentTimeMillis()
      batches.zipWithIndex.foreach { case (name, i) =>
        Files.copy(staged.resolve(name), in.resolve(name)).toFile
          .setLastModified(t0 + i * 60000L)
      }
      val c = Bridge.scoped(s, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      def src(): DataFrame = c.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val (rows, toSink) = sink match {
        case Append(f) => (f(() => src()), (w: DataStreamWriter[Row]) =>
          w.outputMode("append").format("parquet").option("path", out.toString))
        case PerBatch(f) => (src(), (w: DataStreamWriter[Row]) =>
          w.foreachBatch { (batch: DataFrame, batchId: Long) =>
            f(batch).write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
          })
      }
      val q = toSink(rows.writeStream)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      val back = s.read.parquet(out.toString)
      val data = sink match {
        case PerBatch(_) => back.drop("batch_id")
        case Append(_) => back
      }
      s.createDataFrame(data.collectAsList(), data.schema)
    } finally Seq(in, ckpt, out).foreach(p => deleteTree(p.toFile))
  }

  /** The events streams' source schema (st01-st04, st08). */
  private def eventsSchema(s: SparkSession, d: String): StructType = t(s, d, "events").schema

  /** Session gap (micros): a quiet period longer than this closes the
    * session. 8 h fits the synthetic events' inter-event spacing. */
  private val sessionGapUs: Long = 8L * 3600 * 1000000

  /** Open-session state carried across micro-batches. */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** The session fold BOTH `flatMapGroupsWithState` handlers delegate
    * to — the merge/close rule lives in exactly one place so st03 and
    * st04 cannot silently diverge. Sorts this batch's event times, folds
    * them into the open session, and returns (sessions closed by a > gap
    * quiet period, final open state). Batches arrive time-ordered (file
    * source by mtime); ties and duplicates extend the current session.
    * Out-of-order rows (possible ACROSS micro-batches within the
    * watermark allowance) extend BOTH ends: since the watermark delay
    * (1 h) is far below the gap (8 h), any row the engine did not drop as
    * late necessarily lands within gap of the open session, so the merge
    * branch is always the correct one and start must track the earliest
    * event, not the first seen. */
  private def foldSessions(user: Long, times: Array[Long],
      st0: Option[SessionState])
      : (Seq[(Long, Long, Long, Long)], Option[SessionState]) = {
    java.util.Arrays.sort(times)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var st = st0
    var i = 0
    while (i < times.length) {
      val ts = times(i)
      st match {
        case None => st = Some(SessionState(ts, ts, 1L))
        case Some(cur) if ts - cur.last <= sessionGapUs =>
          st = Some(SessionState(math.min(cur.start, ts),
            math.max(cur.last, ts), cur.n + 1))
        case Some(cur) =>
          out += ((user, cur.start, cur.last, cur.n))
          st = Some(SessionState(ts, ts, 1L))
      }
      i += 1
    }
    (out.toSeq, st)
  }

  def sessionize(user: Long, rows: Iterator[(Long, Long)],
      state: org.apache.spark.sql.streaming.GroupState[SessionState])
      : Iterator[(Long, Long, Long, Long)] = {
    val (closed, st) = foldSessions(user, rows.map(_._2).toArray, state.getOption)
    st.foreach(state.update)
    closed.iterator
  }

  /** [[sessionize]]'s production closure path — `EventTimeTimeout`:
    * instead of injecting a per-user sentinel event to flush open
    * sessions (st03's NoTimeout workaround), the open session is WALLED
    * with `setTimeoutTimestamp(last + gap)`, and the engine calls the
    * handler with `hasTimedOut` once the event-time WATERMARK passes that
    * wall — so sessions of users who simply stop emitting close on their
    * own as the rest of the stream advances time. Late rows beyond the
    * watermark are dropped by the engine before the handler, which is
    * what guarantees `last + gap > watermark` (gap ≫ watermark delay)
    * and keeps `setTimeoutTimestamp` legal. */
  def sessionizeEvt(user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
      state: org.apache.spark.sql.streaming.GroupState[SessionState])
      : Iterator[(Long, Long, Long, Long)] = {
    if (state.hasTimedOut) {
      val cur = state.get
      state.remove()
      Iterator.single((user, cur.start, cur.last, cur.n))
    } else {
      val (closed, st) = foldSessions(user, rows.map(_._2).toArray, state.getOption)
      st.foreach { cur =>
        state.update(cur)
        // the GroupState timeout API is millisecond-precision; the wall
        // rounds DOWN, which can only close a session marginally early
        // relative to exact micros — never extend it past the gap
        state.setTimeoutTimestamp((cur.last + sessionGapUs) / 1000L)
      }
      closed.iterator
    }
  }

  val queries: Seq[QueryDef] = Seq(
    // the q09 aggregation re-expressed as a Structured Streaming query:
    // readStream → watermark + window → APPEND mode to a parquet file sink
    // (the scale pattern — state is evicted as the watermark passes each
    // window; nothing accumulates on the driver). A finite file stream
    // never advances the watermark past its last window, so two sentinel
    // files (3h/4h beyond max event time, one per micro-batch) push the
    // watermark over every real window; sentinel rows are filtered from
    // the result. Batches 1-2 are the real events (the staged halves,
    // whose union is the full table).
    QueryDef("st01_stream_hourly", { (s, d) =>
      stream(s, d, Seq("b1.parquet", "b2.parquet", "st01_s3.parquet", "st01_s4.parquet"),
        eventsSchema(s, d), Append(src => src()
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n"))))
        .where(col("event_type") =!= "__sentinel")
    },
      """SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),
    // STREAM-STREAM interval join — the one Structured Streaming join
    // shape the st-family didn't cover (st05/06/07 are stream-STATIC):
    // two live streams (views, purchases) joined per user under a
    // 2-hour attribution window, both sides watermarked so the
    // symmetric hash join's buffered state evicts as event time
    // advances (state is bounded by watermark + window, not stream
    // length — the property that makes this runnable forever). Inner
    // join + time constraint means every emitted match is final (no
    // retraction), so the union over micro-batches provably equals the
    // batch interval join the oracle runs. The time-ordered staged
    // halves keep every row ahead of the min-of-sources watermark:
    // nothing is late, so completeness is exact, not best-effort.
    QueryDef("st08_stream_stream_join", { (s, d) =>
      stream(s, d, Seq("b1.parquet", "b2.parquet"), eventsSchema(s, d), Append { src =>
        // two independent sources over the same staged files, each
        // filtered to its event type (the global watermark is the MIN
        // across both, so neither side can evict state the other still
        // needs)
        def side(tpe: String, idAs: String, tsAs: String) =
          src().where(col("event_type") === tpe)
            .select(col("user_id"), col("event_id").as(idAs),
              col("ts").cast("timestamp").as(tsAs))
            .withWatermark(tsAs, "1 hour")
        val views = side("view", "view_id", "vts")
        val purchases = side("purchase", "purchase_id", "pts")
        views.join(purchases,
            views("user_id") === purchases("user_id") &&
              col("pts") >= col("vts") &&
              col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"))
          .select(views("user_id"), col("view_id"), col("purchase_id"))
      })
    },
      // the batch interval join: the streaming inner join's emitted-match
      // union must equal it exactly (inner + time constraint = no
      // retraction, nothing late under the staged time-ordered halves)
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, v.view_id, p.purchase_id
        |FROM v JOIN p ON v.user_id = p.user_id
        |WHERE p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 2 HOUR""".stripMargin),
    // Streaming DEDUP — the stateful streaming analog of the engine's core
    // operator: `dropDuplicatesWithinWatermark` keyed on (user_id,
    // event_type) with a 1-hour event-time watermark, append mode to a
    // file sink. State evicts as the watermark passes (bounded memory at
    // scale); within one replay of the finite input this is exactly
    // distinct-by-key, which the batch oracle checks. Only the key columns
    // are emitted — the surviving row's other fields depend on arrival
    // order, which a distributed dedup deliberately does not promise. The
    // whole table arrives as ONE micro-batch: split into time-ordered
    // batches, a key seen again after the watermark evicted its state
    // would be emitted twice.
    QueryDef("st02_stream_dedup", { (s, d) =>
      stream(s, d, Seq("events.parquet"), eventsSchema(s, d), Append(src => src()
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))))
    },
      "SELECT DISTINCT user_id, event_type FROM events"),
    // CUSTOM STATE — `flatMapGroupsWithState`:
    // gap-based sessionization with a per-user open-session state struct
    // carried ACROSS micro-batches. The input is split into two
    // time-ordered batches (sessions straddle the boundary, so the state
    // hand-off is genuinely exercised) plus a far-future per-user
    // sentinel batch that closes every open session (st01's watermark-
    // sentinel pattern applied to state closure); the sentinel's own
    // session never closes and is never emitted.
    QueryDef("st03_stream_sessions", { (s, d) =>
      import s.implicits._
      stream(s, d, Seq("b1.parquet", "b2.parquet", "st03_sent.parquet"),
        eventsSchema(s, d), Append(src => src()
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tsu"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
            Streaming.sessionize)
          .toDF("user_id", "start_us", "end_us", "n_events")
          .select(col("user_id"),
            timestamp_micros(col("start_us")).cast("timestamp_ntz").as("session_start"),
            timestamp_micros(col("end_us")).cast("timestamp_ntz").as("session_end"),
            col("n_events"))))
    },
      // batch gaps-and-islands replica of the stateful sessionization: a
      // > 8h quiet period starts a new session (ties/duplicates continue —
      // mirrored by the handler's `<= gap` branch)
      """WITH l AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL '8 hours'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |g AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin),
    // WATERMARK-DRIVEN STATE CLOSURE — `EventTimeTimeout`: the production
    // fix for st03's caveat (a NoTimeout session of a user who stops
    // emitting stays open until someone injects a per-user sentinel).
    // Here each open session is walled with setTimeoutTimestamp(last +
    // gap) and the ENGINE closes it once the global watermark passes the
    // wall. The only test scaffolding left is ONE far-future event for a
    // single synthetic key (-1; synthetic user ids are non-negative) in
    // the final batches — the watermark is global, so one row advances it
    // for every user at once (vs st03's one sentinel PER user); that
    // key's own session is filtered from the result. The +24 h sentinel
    // pushes the watermark past every wall (maxTs + 24h - 1h delay > any
    // last-event + 8h gap); the +25 h one makes the timeout firing
    // deterministic by construction — the watermark +24 h advanced is
    // APPLIED in the next batch, so a second, later sentinel guarantees
    // a DATA batch runs with it, firing every wall inside work
    // processAllAvailable provably waits for.
    QueryDef("st04_stream_sessions_evt", { (s, d) =>
      import s.implicits._
      stream(s, d, Seq("b1.parquet", "b2.parquet", "st04_s24.parquet", "st04_s25.parquet"),
        eventsSchema(s, d), Append(src => src()
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
          // the watermarked ATTRIBUTE itself must be in the fMGWS input's
          // schema (the analyzer checks attribute metadata, not just the
          // plan node), so `ts` rides along next to its micros rendering
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("ts"))
          .as[(Long, Long, java.sql.Timestamp)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
            Streaming.sessionizeEvt)
          .toDF("user_id", "start_us", "end_us", "n_events")
          .select(col("user_id"),
            timestamp_micros(col("start_us")).cast("timestamp_ntz").as("session_start"),
            timestamp_micros(col("end_us")).cast("timestamp_ntz").as("session_end"),
            col("n_events"))))
        .where(col("user_id") =!= -1L)
    },
      // the EventTimeTimeout variant computes the SAME partition of events
      // into sessions — closure mechanics (watermark wall vs sentinel)
      // must not change the result
      """WITH l AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL '8 hours'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |g AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin),
    // STREAMING incremental dedup — d12's continuous-ingest twin and the
    // shape a 100 TB tier actually runs for daily/hourly document
    // arrivals: a `foreachBatch` stream-static probe of each micro-batch
    // of NEW documents against the persisted corpus band index (sketch →
    // band → hash-join on bandKey → Jaccard confirm → per-doc argmax),
    // appending decisions to the sink. The corpus is never re-sketched or
    // re-shuffled; per batch the cost is O(batch + touched buckets).
    // Stateless by design — each new doc's decision depends only on the
    // static index, so no watermark or state store is involved and
    // exactly-once comes from foreachBatch's batchId-idempotent append.
    // Two micro-batches prove the probe is batch-composable; the result
    // equals d12's one-shot batch answer (the same probe, the shared
    // oracle SQL).
    QueryDef("st05_stream_incr_dedup", { (s, d) =>
      val probe = docIndexProbe(s, d)
      stream(s, d, Seq("st05_b1.parquet", "st05_b2.parquet"),
        t(s, d, "documents").schema, PerBatch { batch =>
          // same kernel and band source as the persisted index build
          // (spread: the sketch kernel would run single-task per batch)
          val sk = spread(s, batch).select(col("doc_id"),
            GraftFunctions.captionMinhash(col("text"), Dedup.docSketch).as("mins"))
          probe(sk, docBands(sk))
        })
    },
      Dedup.incrementalDedupOracle),
    // streaming decontamination — d16's continuous-ingest twin (the
    // st05↔d12 relationship replayed on the decontamination tier):
    // training docs ARRIVE as micro-batches and are scored against the
    // PERSISTED eval-gram index (built once, broadcast into every
    // batch's membership join). The per-doc overlap is independent of
    // batching, so the union of per-batch outputs provably equals d16's
    // one-shot answer — st06 shares d16's oracle, and the spec asserts
    // the set equality.
    QueryDef("st06_stream_decontaminate", { (s, d) =>
      val evalGrams = dumpDerived(s, d, "decon_eval_grams")(
        deconGrams(s, d).where(col("ev")).select(col("gh")).distinct())
        .withColumn("hit", lit(1L))
      // spread: a micro-batch is one staged file → one partition; the
      // 13-gram kernel would run single-task per batch
      stream(s, d, Seq("st06_b1.parquet", "st06_b2.parquet"),
        t(s, d, "documents").schema,
        PerBatch(batch => deconScore(gramHashes(spread(s, batch)), evalGrams)))
    },
      // streaming decontamination provably equals the one-shot d16 (per-doc
      // overlap is batching-independent) — same oracle
      Dedup.decontaminateOracle),
    // streaming image near-dup ingest — m09's continuous-ingest twin on
    // the IMAGE modality (the st05↔d12 relationship, third instance):
    // newly ingested images ARRIVE as micro-batches and probe the
    // PERSISTED corpus band index. Each image's verdict reads only the
    // static index, so the union of per-batch outputs provably equals
    // m09's one-shot answer — st07 shares m09's brute-force Hamming
    // oracle, and the spec asserts the set equality.
    QueryDef("st07_stream_image_neardup", { (s, d) =>
      val (ph, corpusBands) = m09Parts(s, d)
      stream(s, d, Seq("st07_b1.parquet", "st07_b2.parquet"),
        ph.select(col("image_id"), col("phash")).schema,
        PerBatch(probeImageBands(_, corpusBands)))
    },
      // streaming image ingest probe equals m09's one-shot answer (each
      // verdict reads only the persisted index) — same brute-force oracle
      Multimodal.incrementalImageNeardupOracle))
}
