package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import graft.operators.Lsh
import graft.queries.QuerySupport._
import graft.queries.Dedup.{deconGrams, deconScore, docBanded, docSketch, docSketches, gramHashes}
import graft.queries.Multimodal.{m09Parts, probeImageBands}

/** `stNN` Structured Streaming queries.
  *
  * SOURCE SEAM: every st* query stages mtime-ordered parquet batches into
  * a temp dir and reads them through the FILE source with
  * maxFilesPerTrigger=1 — test scaffolding that makes micro-batch
  * boundaries, watermark advancement, and state hand-off deterministic
  * and oracle-checkable in tests. The seam is exactly the
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

  /**
   * Stage every streaming query's micro-batch files ONCE per (sfDir, JVM)
   * — the `dumpDerived` pattern applied to the stream scaffolding (the
   * file-source batches are deterministic functions of the events table,
   * so st01/st03/st04 re-running the split/coalesce/sentinel writes per
   * query was pure fixed cost; st03 and st04 even share the same halves).
   * Queries COPY the staged files into their own source dir (cheap FS
   * copy) and stamp mtimes there — the file source orders batches by
   * mtime, which must be per-query-run, not per-staging.
   */
  private def stagedStreamBatches(s: SparkSession, d: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(s"${derivedDir(d)}/stream_batches")
    dumpedPaths.getOrElseUpdate(dir.toString, {
      import java.nio.file.{Files, StandardCopyOption}
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
          Files.move(part.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
        } finally { // drop the _SUCCESS/.crc litter, not just the part file
          // Best-effort recursive cleanup: a failed write can leave a
          // non-empty _temporary tree, and a throw from this finally
          // would mask the original write failure
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          try rm(tmp.toFile)
          catch { case scala.util.control.NonFatal(_) => }
        }
      }
      def tsLit(ms: Long) =
        lit(new java.sql.Timestamp(ms)).cast(schema("ts").dataType)
      // m09's dumps are a staging input (st07 reads the delta slice) —
      // materialize them BEFORE the parallel region below, sequentially
      val newImgs = m09Parts(s, d)._1.where(col("nw"))
        .select(col("image_id"), col("phash"))
      val delta = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      val train = t(s, d, "documents").where(col("doc_id") % 43 =!= 0)
      // All 12 staged batch files are independent tiny coalesce(1) write
      // jobs; run them from a small driver pool so the next job's tasks
      // back-fill the idle session instead of queueing behind each
      // serial job's commit (measured ~0.1 s of driver+
      // commit latency per staged file when serial). Job submission is
      // thread-safe; every write lands in its own temp dir and is moved
      // to a distinct file name.
      val work: Seq[(DataFrame, String)] = Seq(
        // session halves at the midpoint cutoff (st03 + st04 share these)
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
    })
    dir
  }

  /** Copy a staged batch file into a streaming source dir with a
    * controlled mtime offset (the file source orders batches by mtime). */
  private def copyBatch(src: java.nio.file.Path, inDir: java.nio.file.Path,
      name: String, mtimeOffsetMs: Long): Unit = {
    val dst = inDir.resolve(name)
    java.nio.file.Files.copy(src, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(System.currentTimeMillis() + mtimeOffsetMs)
  }

  /** Session gap (micros): a quiet period longer than this closes the
    * session. 8 h fits the synthetic events' inter-event spacing. */
  private val sessionGapUs: Long = 8L * 3600 * 1000000

  /** Open-session state carried across micro-batches. */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** `flatMapGroupsWithState` handler: fold this batch's (sorted) event
    * times into the open session, emitting every session that CLOSES
    * (next event further than the gap). Batches arrive time-ordered
    * (file source by mtime), events within a batch are sorted here; ties
    * and duplicates extend the current session. */
  /** The session fold BOTH handlers delegate to — the merge/close rule
    * lives in exactly one place so st03 and st04 cannot silently diverge.
    * Sorts this batch's event times, folds them into the open session,
    * and returns (sessions closed by a > gap quiet period, final open
    * state). Out-of-order rows (possible ACROSS micro-batches within the
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
    // files (3h/4h beyond max event time, one per micro-batch via
    // maxFilesPerTrigger=1) push the watermark over every real window;
    // sentinel rows are filtered from the result.
    QueryDef("st01_stream_hourly", { (s, d) =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val schema = t(s, d, "events").schema
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st01_in")
      val outDir = Files.createTempDirectory("st01_out").toString
      val ckpt = Files.createTempDirectory("st01_ckpt").toString
      // batches 1-2: the real events via the staged halves (their union
      // is the full table; staging also makes this robust to the input
      // being a parquet DIRECTORY — a raw Files.copy of a directory-shaped
      // table would silently stage an empty batch); batches 3-4: the
      // staged watermark sentinels
      copyBatch(staged.resolve("b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("b2.parquet"), inDir, "b2.parquet", 30000L)
      copyBatch(staged.resolve("st01_s3.parquet"), inDir, "b3.parquet", 60000L)
      copyBatch(staged.resolve("st01_s4.parquet"), inDir, "b4.parquet", 120000L)
      withStreamConf(s, 8) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir).where(col("event_type") =!= "__sentinel")
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
      import java.nio.file.Files
      val schema = t(s, d, "events").schema
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st08_in")
      val outDir = Files.createTempDirectory("st08_out").toString
      val ckpt = Files.createTempDirectory("st08_ckpt").toString
      copyBatch(staged.resolve("b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("b2.parquet"), inDir, "b2.parquet", 30000L)
      withStreamConf(s, 8) {
        // two independent sources over the same staged files, each
        // filtered to its event type (each readStream call is its own
        // source with its own offsets; the global watermark is the MIN
        // across both, so neither side can evict state the other still
        // needs)
        def src(tpe: String, idAs: String, tsAs: String) =
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .where(col("event_type") === tpe)
            .select(col("user_id"), col("event_id").as(idAs),
              col("ts").cast("timestamp").as(tsAs))
            .withWatermark(tsAs, "1 hour")
        val views = src("view", "view_id", "vts")
        val purchases = src("purchase", "purchase_id", "pts")
        val q = views.join(purchases,
            views("user_id") === purchases("user_id") &&
              col("pts") >= col("vts") &&
              col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"))
          .select(views("user_id"), col("view_id"), col("purchase_id"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
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
    // order, which a distributed dedup deliberately does not promise.
    QueryDef("st02_stream_dedup", { (s, d) =>
      import java.nio.file.Files
      val events = t(s, d, "events")
      val schema = events.schema
      val outDir = Files.createTempDirectory("st02_out").toString
      val ckpt = Files.createTempDirectory("st02_ckpt").toString
      withStreamConf(s, 8) {
        val q = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d)
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
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
      import java.nio.file.Files
      import s.implicits._
      val schema = t(s, d, "events").schema
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st03_in")
      val outDir = Files.createTempDirectory("st03_out").toString
      val ckpt = Files.createTempDirectory("st03_ckpt").toString
      copyBatch(staged.resolve("b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("b2.parquet"), inDir, "b2.parquet", 60000L)
      copyBatch(staged.resolve("st03_sent.parquet"), inDir, "b3.parquet", 120000L)
      withStreamConf(s, 8) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
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
            col("n_events"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
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
    // single synthetic key in a final batch — the watermark is global, so
    // one row advances it for every user at once (vs st03's one sentinel
    // PER user); that key's own session is filtered from the result.
    QueryDef("st04_stream_sessions_evt", { (s, d) =>
      import java.nio.file.Files
      import s.implicits._
      val schema = t(s, d, "events").schema
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st04_in")
      val outDir = Files.createTempDirectory("st04_out").toString
      val ckpt = Files.createTempDirectory("st04_ckpt").toString
      val sentinelUid = -1L // synthetic user ids are non-negative
      copyBatch(staged.resolve("b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("b2.parquet"), inDir, "b2.parquet", 60000L)
      // staged one-row, one-key sentinels: b3 (+24 h) pushes the watermark
      // past every wall (maxTs + 24h - 1h delay > any last-event + 8h
      // gap); b4 (+25 h) makes the timeout firing deterministic by
      // construction — the watermark b3 advanced is APPLIED in the next
      // batch, and while the engine's no-data micro-batch normally
      // provides one, that is a trigger-policy behavior: a second, later
      // sentinel guarantees a DATA batch runs with the advanced watermark,
      // firing every wall inside work processAllAvailable provably waits
      // for
      copyBatch(staged.resolve("st04_s24.parquet"), inDir, "b3.parquet", 120000L)
      copyBatch(staged.resolve("st04_s25.parquet"), inDir, "b4.parquet", 180000L)
      withStreamConf(s, 8) {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
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
          col("n_events"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      }
      s.read.parquet(outDir).where(col("user_id") =!= sentinelUid)
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
    // equals d12's one-shot batch answer (the shared oracle SQL).
    QueryDef("st05_stream_incr_dedup", { (s, d) =>
      import java.nio.file.Files
      val docs = t(s, d, "documents")
      // static side: the persisted corpus index, heat-capped like d03/d12
      val corpusBands = docBanded(s, d).where(col("id") % 5 =!= 0)
        .select(col("id").as("old_id"), col("bandKey"))
      val keepB = corpusBands.groupBy("bandKey")
        .agg(count(lit(1)).as("n")).where(col("n") <= 64).select("bandKey")
      val corpusKept = corpusBands.join(keepB, "bandKey")
      val corpusSk = docSketches(s, d).where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("old_id"), col("mins").as("mins_o"))
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st05_in")
      val outDir = Files.createTempDirectory("st05_out").toString
      val ckpt = Files.createTempDirectory("st05_ckpt").toString
      copyBatch(staged.resolve("st05_b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("st05_b2.parquet"), inDir, "b2.parquet", 60000L)
      withStreamConf(s, 8) {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // same kernel, bands, tag as the persisted index build
            // (spread: the sketch kernel would run single-task per batch)
            val sk = spread(s, batch).select(col("doc_id").as("new_id"),
              GraftFunctions.captionMinhash(col("text"), docSketch).as("mins_n"))
            val banded = Lsh.explodeBands(
              sk.select(col("new_id").as("id"),
                GraftFunctions.minhashBands(col("mins_n"), bands = 16,
                  rowsPerBand = 8).as("bk")),
              "id", "bk", sourceTag = 11)
              .select(col("id").as("new_id"), col("bandKey"))
            val cands = banded.join(corpusKept, "bandKey")
              .select("new_id", "old_id").distinct()
            val pick = Window.partitionBy(col("new_id"))
              .orderBy(col("jac_est").desc, col("old_id"))
            cands.join(sk, "new_id").join(corpusSk, "old_id")
              .withColumn("jac_est", round(
                GraftFunctions.jaccard(col("mins_n"), col("mins_o"), docSketch), 6))
              .where(col("jac_est") >= 0.5)
              .withColumn("rk", row_number().over(pick)).where(col("rk") === 1)
              .select(col("new_id"), col("old_id").as("dup_of"), col("jac_est"))
              // batchId-keyed overwrite = the idempotent append: a
              // micro-batch replayed from the checkpoint after a partial
              // commit rewrites ITS OWN directory instead of appending
              // duplicate decision rows
              .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      // partition discovery surfaces batch_id; it is sink bookkeeping,
      // not part of the decision schema
      s.read.parquet(outDir).select("new_id", "dup_of", "jac_est")
    },
      // the streaming probe's decisions must equal d12's one-shot batch
      // answer — same index, same kernel, same rule, shared oracle SQL
      Dedup.incrementalDedupOracle),
    // streaming decontamination — d16's continuous-ingest twin (the
    // st05↔d12 relationship replayed on the decontamination tier):
    // training docs ARRIVE as micro-batches and are scored against the
    // PERSISTED eval-gram index (built once, broadcast into every
    // batch's membership join). The per-doc overlap is independent of
    // batching, so the union of per-batch outputs provably equals d16's
    // one-shot answer — st06 shares d16's oracle, and the spec asserts
    // the set equality. Exactly-once via batchId-keyed idempotent
    // overwrite, same as st05.
    QueryDef("st06_stream_decontaminate", { (s, d) =>
      import java.nio.file.Files
      val docs = t(s, d, "documents")
      val evalGrams = dumpDerived(s, d, "decon_eval_grams")(
        deconGrams(s, d).where(col("ev")).select(col("gh")).distinct())
        .withColumn("hit", lit(1L))
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st06_in")
      val outDir = Files.createTempDirectory("st06_out").toString
      val ckpt = Files.createTempDirectory("st06_ckpt").toString
      copyBatch(staged.resolve("st06_b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("st06_b2.parquet"), inDir, "b2.parquet", 60000L)
      withStreamConf(s, 8) {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // spread: a micro-batch is one staged file → one partition;
            // the 13-gram kernel would run single-task per batch
            deconScore(gramHashes(spread(s, batch)), evalGrams)
              .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
        .select("doc_id", "n_grams", "n_hit", "overlap", "contaminated")
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
    // oracle, and the spec asserts the set equality. Exactly-once via
    // batchId-keyed idempotent overwrite, same as st05/st06.
    QueryDef("st07_stream_image_neardup", { (s, d) =>
      import java.nio.file.Files
      val (ph, corpusBands) = m09Parts(s, d)
      val schema = ph.select(col("image_id"), col("phash")).schema
      val staged = stagedStreamBatches(s, d)
      val inDir = Files.createTempDirectory("st07_in")
      val outDir = Files.createTempDirectory("st07_out").toString
      val ckpt = Files.createTempDirectory("st07_ckpt").toString
      copyBatch(staged.resolve("st07_b1.parquet"), inDir, "b1.parquet", 0L)
      copyBatch(staged.resolve("st07_b2.parquet"), inDir, "b2.parquet", 60000L)
      withStreamConf(s, 8) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            probeImageBands(batch, corpusBands)
              .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
        .select("image_id", "n_matches", "min_ham", "first_dup_id")
    },
      // streaming image ingest probe equals m09's one-shot answer (each
      // verdict reads only the persisted index) — same brute-force oracle
      Multimodal.incrementalImageNeardupOracle))
}
