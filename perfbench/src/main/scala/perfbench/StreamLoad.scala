package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQueryProgress}
import graft.sources.LogTopic
import graft.stream.{OnlineStore, StreamPipeline}

/** Streaming plane, catch-up mode: set-up produces a seeded backlog into
  * a log topic; a pass drains it through the admission-controlled log
  * source → parse → windows + latest-wins merge → online-store sink,
  * then reads the online store and compacts it.
  *
  * Part of the `online` workload, where it sets `op2_p50_ms`, the median
  * trigger (micro-batch) duration after the first; `aux2_p50_ms`, the
  * median online read (stats + top-k recent) after the first; and
  * `rate2_per_s`, input rows per second of the drain after its first
  * trigger. The first trigger and read pay the query's start-up and
  * take twice as long. */
final class StreamLoad(ctx: Ctx) {
  private val spark: SparkSession = ctx.spark
  private var topic: String = _
  private var events: Array[Gen.Event] = _
  private var produceS = 0.0
  // A backlog of 2,000 events, one every 0.5 s of event time; late events
  // are up to 30 s early. Four topic partitions, one record per send,
  // 400 records admitted per trigger.
  private val Events = 2000
  private val PerTrigger = 400
  /** Stored distinct txn_ids ÷ input events must reach this; seeds 1, 2
    * and 11–14 stored 0.735–0.755 of the input. */
  private val TxnCoverageFloor = 0.65

  def setup(rep: Int): Unit = {
    events = Gen.events(ctx.cards, Events, stepSec = 0.5,
      ctx.param("stream", "out_of_order_share").asDouble, maxLateSec = 30)
    topic = ctx.dir(s"setup$rep/topic")
    produceS = Stats.time {
      LogTopic.createTopic(topic, 4)
      events.foreach { e =>
        LogTopic.produce(topic, Seq(
          LogTopic.ProducerRecord(Some(s"card-${e.cc}"), Gen.wire(e), e.sec * 1000L)))
      }
    }._2
  }

  private def asOf: Long = events.map(_.sec).max + 60L

  /** Drains the backlog once, reads the online store, compacts it. */
  def measure(out: Outcome): Unit = {
    val dir = ctx.dir("drain")
    val store = new OnlineStore(spark, s"$dir/log")
    val perTrigger = PerTrigger
    val q = ctx.phase("stream", out)(ctx.span("stream.drain") {
      val stats = StreamPipeline.pipeline(
        StreamPipeline.parse(StreamPipeline.logTopicSource(spark, topic,
          maxRecordsPerTrigger = Some(perTrigger.toLong))),
        timeout = GroupStateTimeout.NoTimeout)
      val q = store.sink(stats, s"$dir/ckpt").start()
      q.processAllAvailable()
      q
    })
    q.stop()
    val triggers = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    // each admitted batch is read once per branch of the query, so the
    // reported input rows are a whole multiple of the backlog
    val read = triggers.map(_.numInputRows).sum
    out.check("backlog admitted in full batches",
      triggers.size == (events.length + perTrigger - 1) / perTrigger &&
        read >= events.length && read % events.length == 0,
      s"${triggers.map(_.numInputRows)} for ${events.length} events")
    // catch-up rate after the first trigger, which also pays the query's start-up
    def end(p: StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
    val rate = (events.length - perTrigger).toDouble / ((end(triggers.last) - end(triggers.head)) / 1e3)

    // a few online reads (stats + one card's top-k), the median after the first reported
    val r = new java.util.SplittableRandom(ctx.seed)
    var latest = Array.empty[org.apache.spark.sql.Row]
    val reads = (0 until 4).map { _ =>
      val ((stats, recent, cc), readS) = Stats.time(ctx.span("stream.online_read") {
        val stats = store.stats(asOf).select(col("cc_num"), col("txn_id")).collect()
        val cc = stats(r.nextInt(stats.length)).getLong(0)
        (stats, store.topKRecent(cc, 5, asOf).select(col("cc_num")).collect(), cc)
      })
      checkReads(stats, recent.map(_.getLong(0)), cc, out)
      latest = stats
      readS
    }
    checkLatest(latest, out)
    val written = verifyLog(s"$dir/log", out)
    val compactS = Stats.time(ctx.span("stream.compact")(store.compact(asOf)))._2

    out.e2e("op2_p50_ms") = Stats.median(triggers.tail.map(_.durationMs.get("triggerExecution").toDouble))
    out.e2e("aux2_p50_ms") = Stats.median(reads.tail) * 1e3
    out.e2e("rate2_per_s") = rate
    Seq("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")
      .foreach { k =>
        out.layer(s"stream.${k}_ms") = Stats.median(triggers.map(p =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      }
    out.layer("stream.batches") = triggers.size.toDouble
    out.layer("stream.state_rows") = triggers.last.stateOperators.map(_.numRowsTotal).sum.toDouble
    out.layer("stream.state_bytes") = triggers.last.stateOperators.map(_.memoryUsedBytes).sum.toDouble
    out.layer("stream.rows_out_per_row_in") = written.toDouble / events.length
    out.layer("stream.online_read_ms") = Stats.median(reads.tail) * 1e3
    out.layer("stream.compact_s") = compactS
    out.layer("sources.produce_s") = produceS
  }

  private lazy val byId = events.iterator.map(e => e.txnId -> e).toMap

  /** Every card's latest stats row is one of that card's transactions;
    * top-k recent answers for the asked card only. */
  private def checkReads(stats: Array[org.apache.spark.sql.Row], recent: Array[Long], cc: Long,
      out: Outcome): Unit = {
    out.check("latest stats per card", stats.nonEmpty && stats.forall(s =>
      byId.get(s.getString(1)).exists(_.cc == s.getLong(0))) &&
      stats.map(_.getLong(0)).distinct.length == stats.length)
    out.check("top-k recent", recent.nonEmpty && recent.length <= 5 && recent.forall(_ == cc))
  }

  /** Coverage and recency of the latest stats rows. A card's stats exist
    * once its count and average windows have closed, so every card with
    * an on-time event at least two triggers before the end of the
    * backlog must have a row. Each card's latest row is the card's last
    * event in produce order or its last on-time event: a late event
    * carries an older event time than the on-time one before it. */
  private def checkLatest(stats: Array[org.apache.spark.sql.Row], out: Outcome): Unit = {
    val latest = stats.map(s => s.getLong(0) -> s.getString(1)).toMap
    val due = events.take(events.length - 2 * PerTrigger).filterNot(_.late).map(_.cc).toSet
    val missing = due.filterNot(latest.contains)
    out.check("every card with closed windows has stats", missing.isEmpty,
      s"${missing.size} of ${due.size} cards missing, e.g. ${missing.take(3)}")
    val byCard = events.groupBy(_.cc)
    val stale = latest.filterNot { case (cc, id) =>
      byCard.get(cc).exists { es =>
        es.last.txnId == id || es.filterNot(_.late).lastOption.exists(_.txnId == id)
      }
    }
    out.check("latest stats row is the card's last event", stale.isEmpty,
      s"${stale.size} of ${latest.size} cards, e.g. ${stale.take(3)}")
  }

  /** Every row the sink wrote is an input transaction with the
    * generator's card, amount and merchant distance. Returns the number
    * of rows written. */
  private def verifyLog(log: String, out: Outcome): Long = {
    val written = spark.read.parquet(log)
      .select(col("txn_id"), col("cc_num"), col("amount"), col("distance_to_merchant"))
      .collect()
    out.check("online store is not empty", written.nonEmpty)
    val bad = written.filterNot { row =>
      byId.get(row.getString(0)).exists { e =>
        e.cc == row.getLong(1) && e.amount == row.getDouble(2) &&
          math.abs(haversine(e) - row.getDouble(3)) < 1e-6
      }
    }
    out.check("stored rows match their input events", bad.isEmpty,
      s"${bad.length} of ${written.length}, e.g. ${bad.headOption}")
    val coverage = written.map(_.getString(0)).distinct.length.toDouble / events.length
    out.check("stored transactions cover the input", coverage >= TxnCoverageFloor,
      s"$coverage of the input events stored")
    written.length
  }

  private def haversine(e: Gen.Event): Double = {
    val dlat = math.toRadians(e.mlat - e.lat)
    val dlon = math.toRadians(e.mlon - e.lon)
    val a = math.pow(math.sin(dlat / 2), 2) + math.cos(math.toRadians(e.lat)) *
      math.cos(math.toRadians(e.mlat)) * math.pow(math.sin(dlon / 2), 2)
    2 * graft.expr.Haversine.EarthRadiusMiles * math.asin(math.sqrt(a))
  }

}
