package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import graft.batch.FeaturePipeline
import graft.llm.Similarity
import graft.schema.Txn
import graft.serve.{FeatureStore, HttpApi}

/** Serving plane: a closed loop of `nproc` clients over `HttpApi`, each
  * sending its next request when the last one returns. The store is a
  * seeded offline feature table; `/similar` is served by the local
  * IVF-PQ replica over seeded clustered vectors. A small share of
  * requests ingest rows, which adds files to the scanned set.
  *
  * Part of the `online` workload, where it sets `op_p50_ms`, the median
  * latency of the Spark-backed lookup routes; `rate_per_s`, requests per
  * second of the mixed loop; and `aux_p50_ms`, the median latency of
  * `/similar` in a following ANN-only loop with the same client count. */
final class Serve(ctx: Ctx) {
  private val spark: SparkSession = ctx.spark
  private val mapper = new ObjectMapper()
  private val K = 10
  private val lookupRoutes = Seq("by_ccnum", "recent", "by_date", "bulk")
  private val annRoutes = Seq("similar_get", "similar_post")
  private val routes = lookupRoutes ++ annRoutes :+ "ingest"
  // Store: 8,000 transactions over 10 days. Index: 3,000 64-dim vectors
  // in 32 clusters, each a 4-dim linear patch; 8 IVF cells, PQ with 8
  // sub-vectors of 32 codes.
  private val StoreRows = 8000
  private val Days = 10
  private val Vectors = 3000
  /** Latency settles over the first seconds of load (C1 compiling the
    * request path, Spark's first plans); the warm-up takes them. */
  private val WarmupS = 3.0
  /** Requests of the ANN-only loop, over all clients: enough for a p99. */
  private val AnnRequests = 2400

  private var api: HttpApi = _
  private var base: String = _
  private var store: FeatureStore = _
  private var index: Similarity.IvfPqIndex = _
  private var vecPath: String = _
  private var cardTable: Array[Gen.Card] = _
  private var cardZipf: Gen.Zipf = _
  private var perCard: Map[Long, Int] = _
  private var perDay: Map[Int, Int] = _
  private var corpus: Array[Array[Double]] = _
  private var queries: Array[Array[Double]] = _
  private var ingestBodies: Array[(Long, String)] = _
  private val ingested = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()

  def setup(rep: Int): Unit = {
    if (api != null) api.stop()
    import spark.implicits._
    val dir = ctx.dir(s"setup$rep")
    val gen = new Gen.TxnGen(ctx.cards, stream = 2)
    val txns = gen.txns(StoreRows, Gen.Epoch0, Days * 86400L)
    cardTable = gen.cardTable
    cardZipf = new Gen.Zipf(cardTable.length, ctx.cards.zipfS)
    perCard = txns.groupBy(_.cc_num).map { case (k, v) => k -> v.length }
    perDay = txns.groupBy(t => ((t.trans_date_trans_time.getTime / 1000 - Gen.Epoch0) / 86400).toInt)
      .map { case (k, v) => k -> v.length }
    spark.createDataset(txns.toSeq).write.parquet(s"$dir/txns")
    FeaturePipeline.features(spark.read.parquet(s"$dir/txns")).write.parquet(s"$dir/store")

    // ingest rows: cards no lookup asks for, on a day no by-date query covers
    val extra = (0 until 64).map { j =>
      val c = cardTable(j % cardTable.length)
      Txn(new java.sql.Timestamp((Gen.Epoch0 + 400L * 86400L + j * 60L) * 1000L),
        9000000000L + j, "misc", 10.0 + j, c.gender, c.lat, c.lon, c.cityPop, c.dob,
        c.lat, c.lon, 0)
    }
    ingestBodies = FeaturePipeline.features(spark.createDataset(extra).toDF())
      .toJSON.collect().map(js => mapper.readTree(js).get("cc_num").asLong -> js)
    ingested.clear()

    val gv = new Gen.Vectors(dim = 64, clusters = 32, latent = 4, spread = 1.0, ctx.seed)
    corpus = gv.corpus(Vectors)
    queries = gv.queries(512)
    vecPath = s"$dir/vectors"
    spark.createDataFrame(corpus.indices.map(i => (i.toLong, corpus(i).toSeq)))
      .toDF("vec_id", "embedding").write.parquet(vecPath)
    val emb = spark.read.parquet(vecPath)
    index = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 8, m = 8, kCodes = 32)
    store = new FeatureStore(spark, s"$dir/store")
    api = new HttpApi(spark, store,
      ann = Some(HttpApi.localIvfPqBackend(index, emb, "vec_id", "embedding")))
    api.start()
    base = s"http://127.0.0.1:${api.boundPort}"
  }

  def close(): Unit = if (api != null) api.stop()

  private final case class Sample(route: String, ms: Double, ok: Boolean)

  /** One request; returns whether its status and body were right. */
  private def request(client: HttpClient, route: String, r: SplittableRandom,
      annLog: ConcurrentLinkedQueue[(Int, Array[Long])]): Boolean = {
    def card(): Long = cardTable(cardZipf.draw(r)).cc
    def get(path: String) = HttpRequest.newBuilder(URI.create(base + path)).GET().build()
    def post(path: String, body: String) = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    def send(req: HttpRequest): (Int, String) = {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode, resp.body)
    }
    def rows(body: String): Int = mapper.readTree(body).size
    route match {
      case "by_ccnum" =>
        val cc = card()
        val (s, b) = send(get(s"/features/by-ccnum/$cc"))
        s == 200 && rows(b) == perCard.getOrElse(cc, 0)
      case "recent" =>
        val cc = card()
        val (s, b) = send(get(s"/transactions/$cc/recent?k=5"))
        s == 200 && rows(b) == math.min(5, perCard.getOrElse(cc, 0))
      case "by_date" =>
        val d = r.nextInt(Days)
        val day = java.time.LocalDate.ofEpochDay(Gen.Epoch0 / 86400 + d).toString
        val (s, b) = send(get(s"/features/by-date?start=$day&end=$day"))
        s == 200 && rows(b) == perDay.getOrElse(d, 0)
      case "bulk" =>
        val (s, b) = send(get("/features?limit=100"))
        s == 200 && rows(b) == 100
      case "similar_get" =>
        val (s, b) = send(get(s"/similar/${r.nextInt(corpus.length)}?k=$K"))
        s == 200 && rows(b) == K
      case "similar_post" =>
        val qi = r.nextInt(queries.length)
        val (s, b) = send(post("/similar",
          queries(qi).mkString("""{"k":""" + K + ""","vector":[""", ",", "]}")))
        val ok = s == 200 && rows(b) == K
        if (ok && annLog.size < 200)
          annLog.add(qi -> mapper.readTree(b).elements.asScala.map(_.get("neighbor_id").asLong).toArray)
        ok
      case "ingest" =>
        val (cc, body) = ingestBodies(r.nextInt(ingestBodies.length))
        val (s, _) = send(post("/features", body))
        if (s == 201) ingested.merge(cc, 1, (a: Integer, b: Integer) => a + b)
        s == 201
    }
  }

  /** The closed loop: `clients` threads, each sending `perClient`
    * requests or until `seconds` pass, whichever comes first; client `c`
    * sends `routeAt(c, i)` as its `i`-th request. */
  private def load(seconds: Double, clients: Int, seedSalt: Long,
      routeAt: (Int, Int) => String,
      perClient: Int = Int.MaxValue): (Seq[Sample], Double, Seq[(Int, Array[Long])]) = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val annLog = new ConcurrentLinkedQueue[(Int, Array[Long])]()
    val t0 = System.nanoTime()
    val deadline = t0 + (math.min(seconds, 3600.0) * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        val r = new SplittableRandom(ctx.seed * 1000003L + seedSalt * 101L + c)
        var i = 0
        while (i < perClient && System.nanoTime() < deadline) {
          val route = routeAt(c, i)
          i += 1
          val s0 = System.nanoTime()
          val ok = try ctx.span(s"serve.$route")(request(client, route, r, annLog))
          catch { case e: Exception =>
            System.err.println(s"perfbench: $route: $e"); false }
          samples.add(Sample(route, (System.nanoTime() - s0) / 1e6, ok))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (samples.asScala.toSeq, (System.nanoTime() - t0) / 1e9, annLog.asScala.toSeq)
  }

  /** The request mix as a fixed cycle in seeded order, each client
    * starting at its own offset: every run sends the mix's proportions,
    * so only the keys vary with the seed. A read route of weight w takes
    * 8w slots; ingests take `ingest_share` of the cycle. */
  private lazy val schedule: Array[String] = {
    val mix = ctx.param("serve", "request_mix")
    val reads = (lookupRoutes ++ annRoutes).flatMap(r =>
      Seq.fill(8 * Option(mix.get(r)).map(_.asInt).getOrElse(0))(r))
    val share = ctx.param("serve", "ingest_share").asDouble
    val slots = (reads ++ Seq.fill(math.round(reads.size * share / (1 - share)).toInt)("ingest")).toArray
    val r = new SplittableRandom(ctx.seed)
    var i = slots.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
      i -= 1
    }
    slots
  }

  private def mixAt(c: Int, i: Int): String =
    schedule((c * schedule.length / ctx.cores + i) % schedule.length)

  def warmup(): Unit = load(WarmupS, ctx.cores, 1, mixAt)

  private var round = 1L

  def measure(seconds: Double, out: Outcome): Unit = {
    round += 1
    val (samples, wall, mixLog) = ctx.phase("serve", out)(load(seconds, ctx.cores, round, mixAt))
    // `/similar` alone under the same concurrency, a fixed number of
    // requests: the ANN path without Spark jobs competing for the cores,
    // and enough samples for a p99
    val (ann, _, annLog) = load(Double.PositiveInfinity, ctx.cores, round,
      (c, i) => annRoutes((c + i) % annRoutes.size), perClient = (AnnRequests + ctx.cores - 1) / ctx.cores)
    (samples ++ ann).foreach(s => out.check(s"serve ${s.route}", s.ok))
    def ms(rs: Seq[String]) = samples.filter(s => rs.contains(s.route)).map(_.ms)
    out.e2e("op_p50_ms") = Stats.median(ms(lookupRoutes))
    out.e2e("aux_p50_ms") = Stats.median(ann.map(_.ms))
    out.e2e("rate_per_s") = samples.size / wall
    routes.foreach { r =>
      val xs = ms(Seq(r))
      if (xs.nonEmpty) out.layer(s"serve.${r}_p50_ms") = Stats.median(xs)
    }
    out.layer("serve.lookup_p90_ms") = Stats.pct(ms(lookupRoutes), 90)
    out.layer("serve.ann_p99_ms") = Stats.pct(ann.map(_.ms), 99)
    out.layer("serve.requests") = samples.size.toDouble

    // recall@k of the served neighbours against exact cosine
    val recall = (mixLog ++ annLog).map { case (qi, got) =>
      got.toSet.intersect(Gen.exactTopK(corpus, queries(qi), K).toSet).size.toDouble / K
    }
    val meanRecall = if (recall.isEmpty) 0.0 else recall.sum / recall.size
    out.layer("llm.ann_recall_at_k") = meanRecall
    out.check("ann recall@k >= 0.9", meanRecall >= 0.9, s"recall $meanRecall")
    // every ingest is visible, once per POST
    ingested.asScala.foreach { case (cc, n) =>
      out.check("ingested rows visible", store.byCcNum(cc).count() == n.toLong)
    }
  }

  def probe(out: Outcome): Unit = {
    val sc = spark.sparkContext
    // one client, one route at a time: service time without queueing
    routes.foreach { route =>
      val jobs0 = Main.counters.snapshot(sc)("jobs")
      val (samples, _, _) = load(1.0, 1, 7, (_, _) => route)
      samples.foreach(s => out.check(s"serve ${s.route} (1 client)", s.ok))
      out.layer(s"serve.${route}_service_ms") = Stats.median(samples.map(_.ms))
      if (route == "by_ccnum")
        out.layer("serve.jobs_per_lookup") =
          (Main.counters.snapshot(sc)("jobs") - jobs0).toDouble / samples.size
    }
    val r = new SplittableRandom(ctx.seed)
    val direct = (0 until 30).map { _ =>
      val cc = cardTable(cardZipf.draw(r)).cc
      Stats.time(store.byCcNum(cc).collect())._2 * 1e3
    }
    out.layer("serve.store_direct_ms") = Stats.median(direct)
    val engine = Similarity.LocalIvfPq.build(index, spark.read.parquet(vecPath), "vec_id", "embedding")
    val q = (0 until 200).map { i =>
      Stats.time(engine.query(queries(i % queries.length), Long.MinValue, K, 6, 10))._2 * 1e3
    }
    out.layer("llm.ann_query_ms") = Stats.median(q.drop(50))
  }
}
