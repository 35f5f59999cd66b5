package graft.ops

import graft.{Tables, TestSpark}
import graft.streaming.StreamQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** True Structured Streaming runs of the §2.10 operator class — the batch
  * twins are the oracle-gated `ev_*` queries; these prove the same
  * expressions work over `readStream` with watermarks and state. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def streamEvents() = StreamQueries.streamEvents(spark, TestSpark.sf)

  test("streaming tumbling window agg matches batch twin") {
    val q = streamEvents()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("tumbling_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling_out")
      .select(unix_micros($"window.start").as("w"), $"event_type", $"n")
    val batch = Events.tumbling(spark, TestSpark.sf)
      .select($"window_start_us".as("w"), $"event_type", $"n")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming session window agg matches batch twin") {
    val q = streamEvents()
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sessions_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessions_out")
      .select(unix_micros($"session_window.start").as("w"), $"user_id", $"n_events")
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros($"session_window.start").as("w"), $"user_id", $"n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup within watermark keeps one row per event_id") {
    val q = streamEvents()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val n = spark.table("dedup_out").count()
    val exact = Tables.events(spark, TestSpark.sf).select("event_id").distinct().count()
    assert(n == exact)
  }

  test("stream-stream interval join matches batch twin") {
    // Self-join of the event stream: each 'click' joined to 'view's by the
    // same user within the preceding 10 minutes — both sides watermarked,
    // the time-range predicate bounds the join state (the canonical
    // stream-stream interval join; state is purged past the watermark).
    val clicks = streamEvents()
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        $"event_id".as("c_id"))
      .withWatermark("c_ts", "30 minutes")
    val views = streamEvents()
      .filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"),
        $"event_id".as("v_id"))
      .withWatermark("v_ts", "30 minutes")
    val joined = clicks.join(views,
      $"c_user" === $"v_user" &&
        $"v_ts" >= $"c_ts" - expr("INTERVAL 10 MINUTES") &&
        $"v_ts" <= $"c_ts")
    val q = joined.select($"c_id", $"v_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj_out")
    val ev = Tables.events(spark, TestSpark.sf)
    val batch = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
      .join(ev.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_id")),
        $"c_user" === $"v_user" &&
          $"v_ts" >= $"c_ts" - expr("INTERVAL 10 MINUTES") && $"v_ts" <= $"c_ts")
      .select($"c_id", $"v_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream LEFT OUTER interval join emits null-padded rows " +
    "once the watermark closes the window") {
    // Outer stream-stream join is semantically distinct from inner: a left
    // row with no match can only be emitted (null-padded) after the
    // watermark proves no future match can arrive. With AvailableNow over a
    // finite fixture the final watermark passes max(ts), so every unmatched
    // click must surface — making the result equal to the batch left join.
    val clicks = streamEvents()
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        $"event_id".as("c_id"))
      .withWatermark("c_ts", "10 seconds")
    val purchases = streamEvents()
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("p_id"))
      .withWatermark("p_ts", "10 seconds")
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
        $"p_ts" >= $"c_ts" &&
        $"p_ts" <= $"c_ts" + expr("INTERVAL 5 MINUTES"),
      "left_outer")
    val q = joined.select($"c_id", unix_micros($"c_ts").as("c_us"), $"p_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssloj_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssloj_out")
    val ev = Tables.events(spark, TestSpark.sf)
    val batch = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
      .join(ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_id")),
        $"c_user" === $"p_user" &&
          $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 5 MINUTES"),
        "left_outer")
      .select($"c_id", unix_micros($"c_ts").as("c_us"), $"p_id")
    // matched (inner) rows emit eagerly and must agree exactly
    val sIn = streamed.filter($"p_id".isNotNull)
    val bIn = batch.filter($"p_id".isNotNull)
    assert(sIn.exceptAll(bIn).isEmpty && bIn.exceptAll(sIn).isEmpty)
    // null-padded rows are never wrong ...
    assert(streamed.filter($"p_id".isNull)
      .exceptAll(batch.filter($"p_id".isNull)).isEmpty)
    // ... and every unmatched click whose join window provably closed
    // before the final GLOBAL watermark must have been emitted; only the
    // tail region may legitimately be held. The global watermark is the
    // MIN across both (filtered) inputs' event-time maxima − the 10 s
    // delay; 1 s extra slack because watermarks are ms-truncated.
    val maxC = ev.filter($"event_type" === "click")
      .agg(max(unix_micros($"ts"))).head.getLong(0)
    val maxP = ev.filter($"event_type" === "purchase")
      .agg(max(unix_micros($"ts"))).head.getLong(0)
    val closed = math.min(maxC, maxP) -
      10_000_000L - 300_000_000L - 1_000_000L
    val mustEmit = batch.filter($"p_id".isNull && $"c_us" < closed)
    assert(mustEmit.count() > 0, "fixture must close some unmatched windows")
    assert(mustEmit.exceptAll(streamed.filter($"p_id".isNull)).isEmpty,
      "closed-window unmatched clicks must be null-padded in the stream")
  }

  test("stream-static broadcast join enriches the stream without state") {
    // The enrichment pattern: a fact stream joined to a static dimension.
    // No watermark needed — the static side is re-read per micro-batch and
    // broadcast, so this is stateless and the 100-TB form is identical.
    val users = Tables.customer(spark, TestSpark.sf)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val q = streamEvents()
      .join(broadcast(users), Seq("user_id"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ssb_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssb_out")
    val batch = Tables.events(spark, TestSpark.sf)
      .join(users, Seq("user_id"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateful per-user running count via transformWithState (RocksDB)") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    class CountProcessor extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
      @transient private var state: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
          timers: TimerValues): Iterator[(Long, Long)] = {
        val n = (if (state.exists()) state.get() else 0L) + rows.size
        state.update(n)
        Iterator.single((key, n))
      }
    }
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val counts = streamEvents()
        .select($"user_id", $"event_id").as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new CountProcessor, TimeMode.None(), OutputMode.Update())
      val q = counts.toDF("user_id", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("tws_out").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("tws_out").groupBy($"user_id").agg(max($"n").as("n"))
      val batch = Tables.events(spark, TestSpark.sf)
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming Markov pair extraction via transformWithState matches the batch lead pairs") {
    // Sequence pairing as streaming state: per user, the last event type
    // carries across micro-batches in a ValueState; each arriving event
    // emits one (prev, cur) transition. Within a micro-batch rows sort by
    // (ts, event_id) — the production contract is per-key ordered
    // ingestion (e.g. Kafka keyed partitions); the sort makes the single
    // AvailableNow batch honor it. Gate: pair counts ≡ the batch
    // ev_markov_transitions lead() pairs.
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    class PairProcessor
        extends StatefulProcessor[Long, (Long, Long, Long, String), (String, String)] {
      @transient private var last: ValueState[String] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        last = getHandle.getValueState[String]("last", Encoders.STRING, TTLConfig.NONE)
      override def handleInputRows(key: Long,
          rows: Iterator[(Long, Long, Long, String)],
          timers: TimerValues): Iterator[(String, String)] = {
        val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var prev = if (last.exists()) last.get() else null
        sorted.foreach { r =>
          if (prev != null) out += ((prev, r._4))
          prev = r._4
        }
        if (prev != null) last.update(prev)
        out.iterator
      }
    }
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val pairs = streamEvents()
        .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
          $"event_type")
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new PairProcessor, TimeMode.None(),
          OutputMode.Update())
      val q = pairs.toDF("cur", "nxt")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("markov_out").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("markov_out")
        .groupBy($"cur", $"nxt").agg(count(lit(1)).as("n"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy(unix_micros($"ts"), $"event_id")
      val batch = Tables.events(spark, TestSpark.sf)
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"event_type".as("cur"), $"nxt")
        .agg(count(lit(1)).as("n"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateful multi-row emission via flatMapGroupsWithState") {
    // Emits one row per event type seen per user (running distinct-type
    // tally) — the flatMap form's point is >1 output row per group+batch.
    val out = streamEvents()
      .select($"user_id", $"event_type")
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String)], state: GroupState[Set[String]]) =>
          val seen = state.getOption.getOrElse(Set.empty) ++ rows.map(_._2)
          state.update(seen)
          seen.iterator.map(t => (user, t))
      }
    val q = out.toDF("user_id", "event_type")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("fmgs_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("fmgs_out").distinct()
    val batch = Tables.events(spark, TestSpark.sf)
      .select($"user_id", $"event_type").distinct()
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateful per-user running count via mapGroupsWithState") {
    val counts = streamEvents()
      .select($"user_id", $"event_id")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
    val q = counts.toDF("user_id", "n")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("state_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("state_out")
      .groupBy($"user_id").agg(max($"n").as("n"))
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming stateful LSH near-dup: transformWithState band buckets " +
    "emit exactly the batch candidate pair set") {
    // The streaming twin of the dd_minhash_pairs candidate generator: docs
    // arrive over multiple micro-batches, each doc's 16 (band, sig) rows
    // key a bucket whose ListState holds the doc_ids seen so far; a new
    // doc emits one candidate pair per bucket-mate. The emitted pair SET
    // is order-independent (every pair surfaces in whichever micro-batch
    // its second doc arrives), so it must equal the batch self-join
    // candidates — i.e. the pairs lshVerifiedPairs verifies.
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    class BucketProcessor
        extends StatefulProcessor[(Int, Long), (Int, Long, Long), (Long, Long)] {
      @transient private var ids: ListState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        ids = getHandle.getListState[Long]("ids", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: (Int, Long),
          rows: Iterator[(Int, Long, Long)],
          timers: TimerValues): Iterator[(Long, Long)] = {
        val fresh = rows.map(_._3).toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var seen = ids.get().toList
        fresh.foreach { d =>
          seen.foreach { e =>
            if (e != d) out += ((math.min(e, d), math.max(e, d)))
          }
          seen = d :: seen
        }
        ids.appendList(fresh)
        out.iterator
      }
    }
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.TextFunctions._
    // Re-shard the fixture docs into 4 files streamed one per trigger, so
    // bucket state genuinely carries across micro-batches.
    val shards = java.nio.file.Files.createTempDirectory("lsh_docs").toString
    Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
      .repartitionByRange(4, $"doc_id")
      .write.mode("overwrite").parquet(shards)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val banded = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").parquet(shards)
        .select($"doc_id", shingles3($"text").as("hs"))
        .filter(size($"hs") >= 1)
        .select($"doc_id", minhash32($"hs").as("mh"))
        .select($"doc_id", minhashBands($"mh").as(Seq("band", "sig")))
        .select($"band", $"sig", $"doc_id").as[(Int, Long, Long)]
      val pairs = banded
        .groupByKey(r => (r._1, r._2))
        .transformWithState(new BucketProcessor, TimeMode.None(), OutputMode.Update())
      val q = pairs.toDF("a_id", "b_id")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("lsh_stream_out").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("lsh_stream_out").distinct()
      // the production batch path: every candidate lshVerifiedPairs verifies
      val batch = LlmDedup.lshVerifiedPairs(spark, TestSpark.sf)
        .select($"a_id", $"b_id")
      assert(streamed.count() > 0, "fixture must produce candidate pairs")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streaming band-bucket candidates must equal the batch candidate set")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming bounded top-k state via transformWithState matches the " +
    "batch heap aggregate") {
    // The streaming twin of agg_topk_heap: per-user top-3 events by value
    // held as a k-bounded ValueState, REUSING TopK3.reduce — the same
    // aggregator object drives the batch ObjectHashAggregate and the
    // streaming state transition, so the two paths cannot drift. State
    // emissions are cumulative; every element of the final top-3 appears
    // in some emission (an entry only leaves state when dominated by 3
    // forever-better ones), so distinct-emissions → top-3 reproduces the
    // final state under ANY micro-batching.
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import graft.functions.{TopK3, TopKEntry}
    class TopKProcessor extends StatefulProcessor[Long, (Long, Double, Long), (Long, Double, Long)] {
      @transient private var st: ValueState[Seq[TopKEntry]] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[Seq[TopKEntry]]("top",
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopKEntry]](),
          TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Double, Long)],
          timers: TimerValues): Iterator[(Long, Double, Long)] = {
        val prev = if (st.exists()) st.get() else TopK3.zero
        val merged = rows.foldLeft(prev)((b, r) => TopK3.reduce(b, TopKEntry(r._2, r._3)))
        st.update(merged)
        merged.iterator.map(e => (key, e.value, e.id))
      }
    }
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val top = streamEvents()
        .select($"user_id", $"value", $"event_id").as[(Long, Double, Long)]
        .groupByKey(_._1)
        .transformWithState(new TopKProcessor, TimeMode.None(), OutputMode.Update())
      val q = top.toDF("user_id", "value", "event_id")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("topk_stream_out").start()
      q.processAllAvailable(); q.stop()
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"value".desc, $"event_id")
      val streamed = spark.table("topk_stream_out").distinct()
        .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
        .select($"user_id", $"rk", $"event_id", $"value")
      val tk = udaf(TopK3,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKEntry]())
      val batch = Tables.events(spark, TestSpark.sf)
        .groupBy($"user_id").agg(tk($"value", $"event_id").as("top"))
        .select($"user_id", posexplode($"top").as(Seq("pos", "e")))
        .select($"user_id", ($"pos" + 1).cast("int").as("rk"),
          $"e.id".as("event_id"), $"e.value".as("value"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streaming top-k state must equal the batch heap aggregate")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Trigger.AvailableNow drains the backlog once; checkpoint restart is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val out = java.nio.file.Files.createTempDirectory("avnow_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("avnow_ckpt").toString
    def run(): Unit = {
      val q = streamEvents().select($"event_id", $"event_type")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      q.awaitTermination() // AvailableNow terminates after the backlog
    }
    run()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == Tables.events(spark, TestSpark.sf).count(),
      "one AvailableNow pass must drain the whole backlog")
    run() // same checkpoint: offsets already committed → nothing reprocessed
    assert(spark.read.parquet(out).count() == n1,
      "restart with the same checkpoint must not duplicate data")
  }

  test("foreachBatch epoch-addressed sink is idempotent under reprocessing") {
    import org.apache.spark.sql.streaming.Trigger
    val out = java.nio.file.Files.createTempDirectory("feb_out").toString
    // Idempotent sink pattern: address the write by epoch and OVERWRITE —
    // a retried/reprocessed epoch replaces itself instead of appending.
    def run(): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory("feb_ckpt").toString
      val q = streamEvents().select($"event_id", $"user_id")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
          df.write.mode("overwrite").parquet(s"$out/epoch=$epoch")
        }
        .start()
      q.awaitTermination()
    }
    run()
    val n1 = spark.read.parquet(out).count()
    run() // fresh checkpoint reprocesses the same data = simulated retry
    val all = spark.read.parquet(out)
    assert(all.count() == n1, "reprocessing must overwrite, not append")
    assert(all.select($"event_id").distinct().count() == n1,
      "no duplicate events after the retried epoch")
    assert(n1 == Tables.events(spark, TestSpark.sf).count())
  }
}
