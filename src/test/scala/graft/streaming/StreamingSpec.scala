package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite
import graft.streaming.Sessionize.Ev

/** Event with identity, for the stream-stream interval join (purchases
  * need event_id). */
case class PEv(ts: Timestamp, user_id: Long, event_type: String, event_id: Long)

/** SURVEY §5.4: batch≡stream differentials on the same rows, watermark
  * late-drop, per-key state with reset + event-time TTL, and S1 ordered
  * foreachBatch accumulation. */
class StreamingSpec extends SparkSuite {

  private def ts(minutes: Int): Timestamp = new Timestamp(1704067200000L + minutes * 60000L)

  private val rows = Seq(
    Ev(ts(0), 1L, "error", 10.0),
    Ev(ts(5), 1L, "purchase", 20.0),
    Ev(ts(65), 1L, "error", 30.0),   // second hour, second session
    Ev(ts(2), 2L, "signup", 5.0),
    Ev(ts(130), 2L, "purchase", 7.0))

  test("S2 windowed distinct via KMV sketch: stream equals batch, count is exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 3 appears twice in hour 1 for the same type — distinct must dedup
    val dup = rows ++ Seq(Ev(ts(7), 3L, "error", 1.0), Ev(ts(9), 3L, "error", 2.0))
    val mem = MemoryStream[Ev]
    mem.addData(dup: _*)
    val q = EventStreams.windowedDistinct(mem.toDF())
      .writeStream.format("memory").queryName("wdist").outputMode(OutputMode.Complete).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wdist").orderBy("window_start_us", "event_type").collect().toSeq
    val batch = EventStreams.windowedDistinct(dup.toDF())
      .orderBy("window_start_us", "event_type").collect().toSeq
    assert(streamed === batch)
    // hour-1 'error': users 1 and 3 (3 twice) -> exactly 2
    val h1err = batch.filter(r => r.getString(1) == "error" && r.getLong(0) == 1704067200000000L)
    assert(h1err.map(_.getLong(2)) === Seq(2L))
  }

  test("S2 tumbling: stream (complete mode) equals batch on same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode(OutputMode.Complete).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("tumb").orderBy("window_start_us", "event_type").collect().toSeq
    val batch = EventStreams.tumblingCounts(rows.toDF())
      .orderBy("window_start_us", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("S3 session windows: stream equals batch; 5-minute gap splits sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = EventStreams.sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Complete).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("sess").orderBy("user_id", "session_start_us").collect().toSeq
    val batch = EventStreams.sessionCounts(rows.toDF())
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(streamed === batch)
    // user 1: ts(0) and ts(5) merge (gap exactly 5min => merge, end=start+gap
    // is exclusive only past last+gap); ts(65) is its own session
    val u1 = batch.filter(_.getLong(2) == 1L)
    assert(u1.length === 2)
  }

  test("S2 watermark: event later than watermark delay is dropped (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("late").outputMode(OutputMode.Update).start()
    // batch 1 advances the watermark to ts(240) − 30min = ts(210)
    mem.addData(Ev(ts(240), 9L, "error", 1.0))
    q.processAllAvailable()
    val before = spark.table("late").count()
    // batch 2: an event 4 hours late — far behind the watermark — must be dropped
    mem.addData(Ev(ts(0), 9L, "error", 1.0))
    q.processAllAvailable()
    val after = spark.table("late").collect().toSeq
    q.stop()
    assert(after.size === before) // no new output row for the stale window
    assert(!after.exists(r => r.getLong(0) == 1704067200000000L))
  }

  test("S3/S4 flatMapGroupsWithState: running state, reset event, event-time TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Sessionize.updates(mem.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("state").outputMode(OutputMode.Update).start()

    mem.addData(Ev(ts(0), 1L, "purchase", 10.0), Ev(ts(1), 1L, "purchase", 5.0))
    q.processAllAvailable()
    val s1 = spark.table("state").filter("user_id = 1").orderBy(desc("n")).first()
    assert(s1.getLong(1) === 2L && s1.getDouble(2) === 15.0)

    // reset event clears the running aggregate (app.py:488-491 analog)
    mem.addData(Ev(ts(2), 1L, "reset", 0.0), Ev(ts(3), 1L, "purchase", 7.0))
    q.processAllAvailable()
    val s2 = spark.table("state").filter("user_id = 1 AND n = 1").collect()
    assert(s2.nonEmpty && s2.head.getDouble(2) === 7.0)

    // advancing the watermark past lastTs + TTL fires the timeout: the
    // closing summary is emitted with closed=true and state is removed
    mem.addData(Ev(ts(60), 2L, "signup", 1.0))
    q.processAllAvailable()
    val closed = spark.table("state").filter("user_id = 1 AND closed = true").collect()
    q.stop()
    assert(closed.length === 1)
    assert(closed.head.getLong(1) === 1L && closed.head.getDouble(2) === 7.0)
  }

  test("S3/S4: late input behind the watermark never poisons the query") {
    // A key arriving entirely behind the watermark would give
    // lastTs + TTL < watermark, and an unclamped setTimeoutTimestamp
    // throws IllegalArgumentException — killing the WHOLE query. On the
    // memory-stream path Spark's late-row filter drops such rows before
    // the function (asserted below); on a file-source stream the
    // late-event watermark lags the eviction watermark by a batch, the
    // row gets through, and only the max(lastTs + TTL, watermark + 1)
    // clamp in Sessionize keeps the query alive — reproduced and
    // validated at sf1 by the stream probe (now `graft.Tools stream`;
    // SCALING.md round 8), which crashed 2 of 3 runs before the clamp.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Sessionize.updates(mem.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("late_state")
      .outputMode(OutputMode.Update).start()
    // batch 1 pushes the watermark to t+120min
    mem.addData(Ev(ts(120), 1L, "purchase", 1.0))
    q.processAllAvailable()
    // batch 2: user 9's only event is 2 h behind the watermark (TTL 10 min)
    mem.addData(Ev(ts(0), 9L, "purchase", 5.0))
    q.processAllAvailable()
    // batch 3: the query is still alive and processing fresh keys
    mem.addData(Ev(ts(121), 2L, "purchase", 3.0))
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died on late input: ${q.exception}")
    q.stop()
    val out = spark.table("late_state").as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(!out.exists(_._1 == 9L), s"late row expected dropped on this path: $out")
    assert(out.contains((2L, 1L, 3.0, false)), s"fresh key missing after late input: $out")
  }

  test("streaming exact dedup: duplicate event_ids across batches emit once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("event_id", "payload")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Update).start()
    mem.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
    q.processAllAvailable()
    mem.addData((2L, "b-dup-next-batch"), (3L, "c"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dedup").orderBy("event_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // first occurrence wins — the cross-batch duplicate never surfaces
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b", "c"))
  }

  test("streaming dedup with bounded state: dropDuplicatesWithinWatermark evicts old keys") {
    // the 100 TB-stream answer to exact dedup: same semantics within the
    // watermark horizon, but per-key state is EVICTED as the watermark
    // advances — state stays O(keys-per-horizon) instead of O(all keys)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = mem.toDF().toDF("ts", "doc_id", "payload")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append).start()
    mem.addData((ts(0), 1L, "a"), (ts(1), 1L, "a-dup"), (ts(2), 2L, "b"))
    q.processAllAvailable()
    // advance the watermark far past key 1's horizon → its state is evicted
    mem.addData((ts(60), 9L, "advance"))
    q.processAllAvailable()
    // a re-arrival of key 1 after eviction emits again — the horizon
    // bounds state AND the dedup guarantee, by design
    mem.addData((ts(61), 1L, "a-again"))
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("dedup_wm").orderBy("ts").collect()
      .map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(emitted === Seq((1L, "a"), (2L, "b"), (9L, "advance"), (1L, "a-again")))
  }

  test("S1 foreachBatch: ordered token accumulation equals eager concat") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)] // (response_id, seq, token)
    val acc = new scala.collection.concurrent.TrieMap[Long, Vector[(Long, String)]]()
    val q = mem.toDF().toDF("response_id", "seq", "token")
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          acc.updateWith(r.getLong(0)) {
            case Some(v) => Some(v :+ (r.getLong(1), r.getString(2)))
            case None => Some(Vector((r.getLong(1), r.getString(2))))
          }
        }
      }.start()
    mem.addData((1L, 0L, "Hel"), (1L, 1L, "lo "))
    q.processAllAvailable()
    mem.addData((1L, 2L, "wor"), (1L, 3L, "ld"))
    q.processAllAvailable(); q.stop()
    val full = acc(1L).sortBy(_._1).map(_._2).mkString
    assert(full === "Hello world")
  }

  test("S3 session windows on the RocksDB state store match the default store") {
    // HDFS-backed in-memory state caps at executor heap; RocksDB is the
    // production backend for 100 TB-scale streaming state. Same transform,
    // same rows, state provider swapped via conf — results must be
    // identical.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[Ev]
      mem.addData(rows: _*)
      val q = EventStreams.sessionCounts(mem.toDF())
        .writeStream.format("memory").queryName("sess_rocks")
        .outputMode(OutputMode.Complete).start()
      q.processAllAvailable(); q.stop()
      val rocks = spark.table("sess_rocks")
        .orderBy("user_id", "session_start_us").collect().toSeq
      val batch = EventStreams.sessionCounts(rows.toDF())
        .orderBy("user_id", "session_start_us").collect().toSeq
      assert(rocks === batch)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("S5 exactly-once: re-deliveries within the watermark are dropped, first arrival wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val originals = Seq(
      PEv(ts(0), 1L, "view", 100L), PEv(ts(5), 1L, "purchase", 101L),
      PEv(ts(7), 2L, "view", 102L))
    // retries arrive 90 s later with the SAME event_id (at-least-once)
    val redeliveries = originals.map(e =>
      e.copy(ts = new Timestamp(e.ts.getTime + 90000L)))
    val mem = MemoryStream[PEv]
    mem.addData(originals: _*)
    val q = EventStreams.exactlyOnce(mem.toDF())
      .writeStream.format("memory").queryName("eo").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    mem.addData(redeliveries: _*)
    q.processAllAvailable(); q.stop()
    // dropDuplicatesWithinWatermark emits on first sight and suppresses
    // the in-watermark retry: output is exactly the original arrivals
    val streamed = spark.table("eo").as[PEv].collect().toSet
    assert(streamed === originals.toSet)
  }

  test("S6 stream-static enrichment: broadcast dim join equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = Seq((1L, "BUILDING"), (2L, "MACHINERY"), (3L, "HOUSEHOLD"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = EventStreams.enrichedTumbling(mem.toDF(), dims)
      .writeStream.format("memory").queryName("enrich").outputMode(OutputMode.Complete).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich")
      .orderBy("window_start_us", "c_mktsegment").collect().toSeq
    val batch = EventStreams.enrichedTumbling(rows.toDF(), dims)
      .orderBy("window_start_us", "c_mktsegment").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("S2 stream-stream interval join equals batch; 10-minute bound is strict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      PEv(ts(0), 1L, "view", 100L),
      PEv(ts(12), 1L, "view", 101L),
      PEv(ts(7), 2L, "view", 102L))
    val purchases = Seq(
      PEv(ts(5), 1L, "purchase", 200L),   // matches view@0
      PEv(ts(20), 1L, "purchase", 201L),  // matches view@12 only (20-0 > 10)
      PEv(ts(10), 1L, "purchase", 202L),  // exactly 10 min after view@0 -> NO (strict), view@12 is later -> no
      PEv(ts(6), 2L, "purchase", 203L),   // view@7 is after the purchase -> no
      PEv(ts(16), 2L, "purchase", 204L))  // matches view@7
    val memV = MemoryStream[PEv]; val memP = MemoryStream[PEv]
    memV.addData(views: _*); memP.addData(purchases: _*)
    val q = EventStreams.viewToPurchase(memV.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("ssij").outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssij").orderBy("p_id", "v_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(3))).toSeq
    val batch = EventStreams.viewToPurchase(views.toDF(), purchases.toDF())
      .orderBy("p_id", "v_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(3))).toSeq
    assert(streamed === batch)
    assert(batch.map(_._1) === Seq(200L, 201L, 204L)) // 202/203 excluded
  }

  test("S2 stream-stream LEFT OUTER interval join: null rows emit on watermark, equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      PEv(ts(0), 1L, "view", 100L),
      PEv(ts(12), 1L, "view", 101L),
      PEv(ts(7), 2L, "view", 102L))
    val purchases = Seq(
      PEv(ts(5), 1L, "purchase", 200L),   // matched
      PEv(ts(20), 1L, "purchase", 201L),  // matched
      PEv(ts(10), 1L, "purchase", 202L),  // UNMATCHED (strict bound) -> null row
      PEv(ts(6), 2L, "purchase", 203L),   // UNMATCHED (view after) -> null row
      PEv(ts(16), 2L, "purchase", 204L))  // matched
    val memV = MemoryStream[PEv]; val memP = MemoryStream[PEv]
    memV.addData(views: _*); memP.addData(purchases: _*)
    val q = EventStreams.viewToPurchaseOuter(memV.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("ssoj").outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // unmatched purchases can only emit once the watermark PROVES no
    // matching view can still arrive; the GLOBAL watermark is the min
    // across inputs, so BOTH streams need a far-future sentinel (unused
    // user) before the drain — the sentinel purchase itself stays in
    // state unemitted and is filtered from the comparison
    memV.addData(PEv(ts(24 * 60), 99L, "view", 999L))
    memP.addData(PEv(ts(24 * 60), 99L, "purchase", 998L))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssoj").filter("p_id < 900").orderBy("p_id", "v_ts")
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(3)))).toSeq
    val batch = EventStreams.viewToPurchaseOuter(views.toDF(), purchases.toDF())
      .orderBy("p_id", "v_ts")
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(3)))).toSeq
    assert(streamed === batch)
    assert(batch.map(_._1) === Seq(200L, 201L, 202L, 203L, 204L)) // every purchase survives
    assert(batch.collect { case (id, None) => id } === Seq(202L, 203L))
  }
}
