package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreaming
import graft.multimodal.Multimodal

/** As-of join semantics, streaming window agg, sessionization, and the
  * multimodal decode seam.
  */
class AsofStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("as-of join: latest click at-or-before each purchase, else null") {
    val ev = Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (2L, ts(5), 10L, "purchase", 5.0),  // matches click 1
      (3L, ts(6), 10L, "click", 1.0),
      (4L, ts(6), 10L, "purchase", 5.0),  // equal-ts click counts -> 3
      (5L, ts(1), 20L, "purchase", 5.0)   // user 20 has no click -> null
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.createOrReplaceTempView("asof_events")

    val clicks = ev.where(col("event_type") === "click").select(
      col("user_id"), col("ts"), lit(0).as("tag"),
      col("event_id").as("cid"), lit(null).cast("bigint").as("event_id"))
    val purchases = ev.where(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(1).as("tag"),
      lit(null).cast("bigint").as("cid"), col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "tag")
      .rowsBetween(Long.MinValue, 0)
    val got = clicks.unionByName(purchases)
      .withColumn("click_id", last("cid", ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select("event_id", "click_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(2L -> Some(1L), 4L -> Some(3L), 5L -> None))
  }

  test("streaming hourly agg with watermark over MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStreaming.hourlyByType(stream).writeStream
      .format("memory").queryName("hourly_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try {
      mem.addData((1L, ts(0), 1L, "click", 2.0),
        (2L, ts(10), 1L, "click", 3.0), (3L, ts(0), 1L, "view", 1.0))
      query.processAllAvailable()
      val rows = spark.table("hourly_test")
        .select("event_type", "n", "value_sum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 5.0), ("view", 1L, 1.0)))
    } finally query.stop()
  }

  test("sessionization groups events within the gap, splits beyond it") {
    val events = Seq(
      EventStreaming.Event(1L, ts(0), 1L, "click", 1.0),
      EventStreaming.Event(2L, ts(10), 1L, "click", 2.0),   // same session
      EventStreaming.Event(3L, ts(120), 1L, "click", 4.0),  // gap > 30min
      EventStreaming.Event(4L, ts(0), 2L, "view", 8.0)
    ).toDS()
    val got = EventStreaming.sessionize(events).collect()
      .map(s => s.user_id -> ((s.n_events, s.value_sum))).toMap
    assert(got(1L) == ((1L, 4.0))) // latest session only (state semantics)
    assert(got(2L) == ((1L, 8.0)))
  }

  test("sessionize emission law: pure function of the batch partition " +
    "(randomized)") {
    // The q280 gate's core claim, as a LAW over randomized inputs rather
    // than one fixture: for ANY time-ordered batch partition of ANY
    // event set, the Update-mode emission of sessionize equals the
    // window-function twin — global gap islands (lag/cumsum), cumulative
    // stats truncated at each (user, batch)'s last event. Three seeded
    // trials, real MemoryStream micro-batches (one per addData).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    val gapMs = 2L * 3600 * 1000
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // Distinct minute offsets over 3 days -> no ts ties anywhere, so
      // the index-cut batch partition is unambiguous.
      val minutes = rnd.shuffle((0 until 3 * 24 * 60).toList).take(120)
      val evs = minutes.zipWithIndex.map { case (m, i) =>
        (i.toLong + 1, ts(m), rnd.nextInt(6).toLong + 1, "click",
          rnd.nextInt(100).toDouble)
      }.sortBy(_._2.getTime)
      // Two random interior cuts -> three non-empty time-ordered batches.
      val Seq(c1, c2) = Seq.fill(2)(1 + rnd.nextInt(evs.size - 1)).sorted
        match { case s if s.head == s.last => Seq(s.head, s.head + 1)
                case s => s }
      val batches = Seq(evs.slice(0, c1), evs.slice(c1, c2),
        evs.slice(c2, evs.size)).filter(_.nonEmpty)
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val sink = s"sess_law_$trial"
      val q = EventStreaming.sessionize(
          mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
            .as[EventStreaming.Event], gapMs)
        .writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(sink)
        .select(col("user_id"), unix_millis(col("session_start")),
          unix_millis(col("session_end")), col("n_events"), col("value_sum"))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      // Window-function twin over the SAME batch assignment.
      val flat = batches.zipWithIndex.flatMap { case (b, i) =>
        b.map(e => (e._1, e._2.getTime, e._3, e._5, i))
      }.toDF("event_id", "ems", "user_id", "v", "batch")
      val wu = Window.partitionBy("user_id").orderBy("ems")
      val ws = Window.partitionBy("user_id", "sid").orderBy("ems")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = flat
        .withColumn("brk",
          when(col("ems") - lag("ems", 1).over(wu) > gapMs, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(
          wu.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("s", min("ems").over(ws))
        .withColumn("e", max("ems").over(ws))
        .withColumn("n", count(lit(1)).over(ws))
        .withColumn("vs", sum("v").over(ws))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "batch").orderBy(col("ems").desc)))
        .where(col("rn") === 1)
        .select("user_id", "s", "e", "n", "vs")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(got == expected,
        s"trial $trial: emission diverged from the batch-partition twin " +
          s"(${got.take(3)} vs ${expected.take(3)})")
    }
  }

  test("closed sessionization: each session emitted exactly once, " +
    "state evicted at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreaming.sessionizeClosed(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreaming.Event],
        gapMs = 30 * 60000L, watermark = "1 hour")
      .writeStream.format("memory").queryName("closed_sess")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    def rows() = spark.table("closed_sess").collect()
      .map(s => (s.getLong(0), s.getTimestamp(1), s.getTimestamp(2),
        s.getLong(3), s.getDouble(4))).toSet
    try {
      // batch 1: user 1 has an open 2-event session, user 2 one event.
      mem.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 2.0),
        (3L, ts(5), 2L, "view", 4.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "nothing should close while the watermark lags")
      // batch 2: event 4 closes user 1's session IN-BATCH (gap 170 min);
      // event 5 advances the watermark to t0+660, past user 2's timeout
      // (t0+35) and user 1's new tail (timeout t0+210) -> both close by
      // TIMEOUT in the engine's follow-up batch; user 3 stays open
      // (timeout t0+750 > watermark 660).
      mem.addData((4L, ts(180), 1L, "click", 8.0), (5L, ts(720), 3L, "view", 16.0))
      q.processAllAvailable()
      assert(rows() == Set(
        (1L, ts(0), ts(10), 2L, 3.0),
        (1L, ts(180), ts(180), 1L, 8.0),
        (2L, ts(5), ts(5), 1L, 4.0)),
        s"after batch 2: ${rows()}")
      // batch 3: user 2 re-appears ABOVE the watermark — its old state
      // was evicted, so this is a FRESH session, not a continuation.
      mem.addData((6L, ts(700), 2L, "view", 32.0))
      q.processAllAvailable()
      // batch 4: user 3's second event closes its first session in-batch
      // (gap 780 min) and pushes the watermark to t0+1440, timing out
      // user 2's fresh session (timeout t0+730); user 3's new tail
      // (timeout t0+1530) stays open and is never emitted.
      mem.addData((7L, ts(1500), 3L, "view", 64.0))
      q.processAllAvailable()
      val fin = rows()
      assert(fin == Set(
        (1L, ts(0), ts(10), 2L, 3.0),
        (1L, ts(180), ts(180), 1L, 8.0),
        (2L, ts(5), ts(5), 1L, 4.0),
        (2L, ts(700), ts(700), 1L, 32.0),
        (3L, ts(720), ts(720), 1L, 16.0)), s"final: $fin")
      // exactly-once: the sink has no duplicate records.
      assert(spark.table("closed_sess").count() == fin.size.toLong)
    } finally q.stop()
  }

  test("closed sessionization: a late event widens the session, " +
    "never splits it") {
    // r14 review: an unclamped `lastTs = t` let a cross-batch late
    // event (above the watermark, below the state's span) drag lastTs
    // backwards, so the NEXT event measured its gap against the
    // straggler and spuriously split one real session in two. The
    // clamped fold must produce exactly ONE session covering all four
    // events.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreaming.sessionizeClosed(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreaming.Event],
        gapMs = 30 * 60000L, watermark = "6 hours")
      .writeStream.format("memory").queryName("late_sess")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: two in-order events; state span [600, 615].
      mem.addData((1L, ts(600), 1L, "click", 1.0),
        (2L, ts(615), 1L, "click", 2.0))
      q.processAllAvailable()
      // batch 2: a LATE event at 590 (within gap of the span, above
      // the 6 h watermark) plus an in-order event at 640. Unclamped
      // fold: lastTs regresses to 590, then 640 - 590 = 50 min > 30 min
      // gap -> spurious close. Clamped: one live session [590, 640].
      mem.addData((3L, ts(590), 1L, "click", 4.0),
        (4L, ts(640), 1L, "click", 8.0))
      q.processAllAvailable()
      assert(spark.table("late_sess").collect().isEmpty,
        "the late event must merge, not close the session")
      // batch 3: advance the watermark far past the session tail so the
      // single widened session closes by timeout.
      mem.addData((5L, ts(3000), 2L, "view", 0.5))
      q.processAllAvailable()
      val got = spark.table("late_sess").collect()
        .map(s => (s.getLong(0), s.getTimestamp(1), s.getTimestamp(2),
          s.getLong(3), s.getDouble(4))).toSet
      assert(got == Set((1L, ts(590), ts(640), 4L, 15.0)),
        s"expected one widened session, got: $got")
    } finally q.stop()
  }

  test("multimodal decode seam: deterministic stub features over binary") {
    val docs = Seq((1L, "hello world", "en", "src1", 11L),
      (2L, "hello world", "en", "src2", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.extractFeatures(Multimodal.fromDocuments(docs))
      .collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats(0).features.toSeq == feats(1).features.toSeq) // same bytes
    assert(feats(0).digest == feats(1).digest)
    assert(math.abs(feats(0).features.sum - 1.0f) < 1e-5)      // normalized
    assert(feats(0).n_bytes == 11L)
  }

  test("multimodal batched decode: same features, bounded batch shape") {
    val docs = (1L to 23L).map(i => (i, s"payload number $i", "en", "src", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.fromDocuments(docs).repartition(2)
    val single = Multimodal.extractFeatures(media)
      .collect().map(f => f.media_id -> ((f.digest, f.features.toSeq))).toMap
    AsofStreamingSpec.batchSizes.clear()
    val batched = Multimodal.extractFeaturesBatched(media, batchSize = 5,
        decoder = new AsofStreamingSpec.RecordingBatchDecoder)
      .collect().map(f => f.media_id -> ((f.digest, f.features.toSeq))).toMap
    assert(batched == single) // batching is a pure throughput change
    val sizes = AsofStreamingSpec.batchSizes.toArray.map(_.toString.toInt)
    assert(sizes.sum == 23)
    assert(sizes.forall(_ <= 5))
    assert(sizes.count(_ < 5) <= 2) // at most one short batch per partition
  }

  test("watermark drops rows later than the threshold (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = graft.streaming.EventStreaming.hourlyByType(stream, "1 hour")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: events at t0 and t0+4h advance the watermark to ~3h
      mem.addData((1L, ts(0), 1L, "click", 1.0),
        (2L, ts(4 * 60), 1L, "click", 1.0))
      query.processAllAvailable()
      // batch 2: a straggler back at t0+5min is beyond the watermark
      mem.addData((3L, ts(5), 1L, "click", 100.0))
      query.processAllAvailable()
      // append-mode emits only finalized windows; the t0 window closed
      // with exactly the one in-time event (the straggler was dropped)
      val rows = spark.table("wm_test")
        .select("n", "value_sum").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.forall(_._1 == 1L), rows.mkString(","))
      assert(!rows.exists(_._2 == 100.0))
    } finally query.stop()
  }
}

/** Static instrumentation for the batched-decode spec (local mode: the
  * decoder runs in this JVM, so a concurrent queue observes batches).
  */
object AsofStreamingSpec {
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  final class RecordingBatchDecoder extends Multimodal.BatchDecoder {
    private val inner = new Multimodal.StubBatchDecoder()
    override def decodeBatch(recs: Seq[Multimodal.MediaRecord])
    : Seq[Multimodal.MediaFeatures] = {
      batchSizes.add(recs.size)
      inner.decodeBatch(recs)
    }
  }
}
