package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import graft.schema.Txn

/** Seeded input generators. Every generator is a pure function of its
  * parameters and the run's seed; the program under test only ever sees
  * what these produce. The parameters a workload's traffic depends on
  * come from `perfbench/workloads.json`; sizes are constants of the
  * workloads. */
object Gen {

  /** Cumulative Zipf(s) table over ranks 1..n, for inverse-CDF draws. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    /** A rank in [0, n). */
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------------
  // Card transactions in the reference's shape: 983 cards, exponential
  // amounts, normal coordinates, and a fraud label the features can
  // learn (very high amounts, or high amounts far from the merchant,
  // plus a small label-noise floor).
  // ------------------------------------------------------------------

  val Categories: Array[String] = Array("grocery", "gas", "food", "travel", "misc")
  val Epoch0: Long = 1704067200L // 2024-01-01 00:00:00 UTC

  final case class Card(cc: Long, gender: String, cityPop: Int, dob: Timestamp,
      lat: Double, lon: Double)

  final case class TxnSpec(cards: Int, zipfS: Double, seed: Long)

  /** Card ids are a seeded permutation of the rank order, so the hottest
    * card differs from seed to seed. */
  def cards(spec: TxnSpec): Array[Card] = {
    val r = new SplittableRandom(spec.seed ^ 0x5eedcafeL)
    val ids = Array.tabulate(spec.cards)(i => 4000000000L + i * 7919L)
    var i = ids.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    ids.map { cc =>
      Card(cc, if (r.nextBoolean()) "M" else "F", 100 + r.nextInt(100000),
        new Timestamp((315532800L + r.nextInt(30 * 365) * 86400L) * 1000L),
        38.5 + r.nextGaussian() * 5.1, -90.2 + r.nextGaussian() * 13.7)
    }
  }

  /** Draws transactions for a card population. Keys (cc_num, second)
    * are unique across everything one generator returns. */
  final class TxnGen(spec: TxnSpec, stream: Long) {
    val cardTable: Array[Card] = cards(spec)
    private val zipf = new Zipf(spec.cards, spec.zipfS)
    private val r = new SplittableRandom(spec.seed * 31L + stream)
    private val used = new java.util.HashSet[(Long, Long)]()

    def txn(fromSec: Long, spanSec: Long): Txn = {
      var card: Card = null
      var sec = 0L
      do {
        card = cardTable(zipf.draw(r))
        sec = fromSec + (r.nextDouble() * spanSec).toLong
      } while (!used.add((card.cc, sec)))
      val amt = math.round(-math.log(1.0 - r.nextDouble()) * 70.0 * 100.0) / 100.0
      val lat = card.lat + r.nextGaussian() * 0.5
      val lon = card.lon + r.nextGaussian() * 0.5
      val mlat = 38.5 + r.nextGaussian() * 5.1
      val mlon = -90.2 + r.nextGaussian() * 13.7
      val fraud =
        if (amt > 300.0) 1
        else if (amt > 220.0 && math.abs(lat - mlat) > 15.0) 1
        else if (r.nextInt(667) == 0) 1
        else 0
      Txn(new Timestamp(sec * 1000L), card.cc, Categories(r.nextInt(Categories.length)),
        amt, card.gender, lat, lon, card.cityPop, card.dob, mlat, mlon, fraud)
    }

    def txns(n: Int, fromSec: Long, spanSec: Long): Array[Txn] =
      Array.fill(n)(txn(fromSec, spanSec))

    /** A correction of an existing row: same key, re-classified category.
      * The category feeds no window, so a corrected row changes only its
      * own feature row and the merged table stays comparable with a full
      * recompute. */
    def correct(t: Txn): Txn = {
      val i = Categories.indexOf(t.category)
      t.copy(category = Categories((i + 1 + r.nextInt(Categories.length - 1)) % Categories.length))
    }

    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  }

  // ------------------------------------------------------------------
  // Clustered embeddings for the ANN index.
  // ------------------------------------------------------------------

  /** `n` vectors of `dim` dims in `clusters` clusters. Each cluster is a
    * seeded center plus a `latent`-dimensional random linear patch, so
    * neighbours are well separated the way real embeddings are, not an
    * isotropic cloud in which every point is equally near. */
  final class Vectors(dim: Int, clusters: Int, latent: Int, spread: Double, seed: Long) {
    private val r0 = new SplittableRandom(seed ^ 0x7ec7025L)
    private val centers = Array.fill(clusters, dim)(r0.nextGaussian() * 4.0)
    private val bases = Array.fill(clusters, latent, dim)(r0.nextGaussian() * spread)

    def draw(r: SplittableRandom): Array[Double] = {
      val c = r.nextInt(clusters)
      val v = centers(c).clone()
      var j = 0
      while (j < latent) {
        val z = r.nextGaussian()
        var d = 0
        while (d < dim) { v(d) += z * bases(c)(j)(d); d += 1 }
        j += 1
      }
      v
    }

    def corpus(n: Int): Array[Array[Double]] = {
      val r = new SplittableRandom(seed ^ 0x5eed5L)
      Array.fill(n)(draw(r))
    }

    def queries(n: Int): Array[Array[Double]] = {
      val r = new SplittableRandom(seed ^ 0x9e3779b9L)
      Array.fill(n)(draw(r))
    }
  }

  /** Exact cosine top-k ids of `q` over `corpus` (ids are positions). */
  def exactTopK(corpus: Array[Array[Double]], q: Array[Double], k: Int): Array[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val scores = corpus.map { v =>
      var dot = 0.0; var vn = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); vn += v(i) * v(i); i += 1 }
      dot / (math.sqrt(vn) * qn)
    }
    scores.indices.sortBy(i => -scores(i)).take(k).map(_.toLong).toArray
  }

  // ------------------------------------------------------------------
  // Streaming events on the wire (all-string JSON, producer shape).
  // ------------------------------------------------------------------

  /** `late` events are stamped earlier than their place in produce order. */
  final case class Event(txnId: String, cc: Long, amount: Double, lat: Double, lon: Double,
      mlat: Double, mlon: Double, sec: Long, late: Boolean)

  /** `n` events in produce order. Event time advances ~`stepSec` per
    * event; an `outOfOrder` share is stamped up to `maxLateSec` earlier
    * than its position, so it arrives after later events. */
  def events(spec: TxnSpec, n: Int, stepSec: Double, outOfOrder: Double,
      maxLateSec: Int): Array[Event] = {
    val cs = cards(spec)
    val zipf = new Zipf(spec.cards, spec.zipfS)
    val r = new SplittableRandom(spec.seed * 17L + 5L)
    Array.tabulate(n) { i =>
      val c = cs(zipf.draw(r))
      val onTime = Epoch0 + (i * stepSec).toLong
      val late = r.nextDouble() < outOfOrder
      val sec = if (late) onTime - 1 - r.nextInt(maxLateSec) else onTime
      Event(f"t$i%07d", c.cc, math.round((1.0 + r.nextDouble() * 499.0) * 100.0) / 100.0,
        c.lat, c.lon, 38.5 + r.nextGaussian() * 5.1, -90.2 + r.nextGaussian() * 13.7, sec, late)
    }
  }

  def wire(e: Event): String = {
    val ts = java.time.LocalDateTime.ofEpochSecond(e.sec, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    val tsFull = if (ts.length == 16) ts + ":00" else ts
    s"""{"txn_id":"${e.txnId}","cc_num":"${e.cc}","amount":"${e.amount}",""" +
      s""""lat":"${e.lat}","long":"${e.lon}","merch_lat":"${e.mlat}",""" +
      s""""merch_long":"${e.mlon}","timestamp":"$tsFull"}"""
  }

  // ------------------------------------------------------------------
  // Text corpus with injected exact and near duplicates.
  // ------------------------------------------------------------------

  final case class Doc(id: Long, source: String, text: String, origin: Long, kind: String)

  private val Stop = Array("the", "and", "of", "to", "in", "is", "that", "for", "it", "with")

  /** Pseudo-words: 2–9 letters, unique. */
  private def vocabulary(n: Int, r: SplittableRandom): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    Stop.foreach(seen.add)
    while (seen.size < n) {
      val len = 2 + r.nextInt(8)
      seen.add(new String(Array.fill(len)(('a' + r.nextInt(26)).toChar)))
    }
    seen.toArray(new Array[String](0))
  }

  final case class CorpusSpec(docs: Int, vocab: Int, zipfS: Double, minWords: Int,
      maxWords: Int, exactDupShare: Double, nearDupShare: Double, nearDupEdits: Int,
      contaminated: Int, benchmarkDocs: Int, shortDocs: Int, seed: Long)

  /** Returns (corpus, benchmark). Kinds: "orig", "exact" (verbatim copy
    * of `origin`), "near" (copy of `origin` with `nearDupEdits` word
    * substitutions), "contam" (a benchmark doc), "short" (fails the
    * quality filter). */
  def corpus(spec: CorpusSpec): (Array[Doc], Array[Doc]) = {
    val r = new SplittableRandom(spec.seed ^ 0xd0c5L)
    val words = vocabulary(spec.vocab, r)
    val zipf = new Zipf(words.length, spec.zipfS)
    def text(nWords: Int): Array[String] = Array.fill(nWords)(words(zipf.draw(r)))
    def len() = spec.minWords + r.nextInt(spec.maxWords - spec.minWords + 1)
    val bench = Array.tabulate(spec.benchmarkDocs)(i =>
      Doc(-(i + 1L), "bench", text(len()).mkString(" "), -(i + 1L), "bench"))
    val out = Array.newBuilder[Doc]
    var id = 0L
    val origs = Array.tabulate(spec.docs) { _ =>
      id += 1
      Doc(id, if (r.nextInt(4) == 0) "code" else "web", text(len()).mkString(" "), id, "orig")
    }
    out ++= origs
    val nExact = (spec.docs * spec.exactDupShare).round.toInt
    val nNear = (spec.docs * spec.nearDupShare).round.toInt
    (0 until nExact).foreach { _ =>
      val o = origs(r.nextInt(origs.length)); id += 1
      out += Doc(id, o.source, o.text, o.id, "exact")
    }
    (0 until nNear).foreach { _ =>
      val o = origs(r.nextInt(origs.length)); id += 1
      val ws = o.text.split(" ")
      (0 until spec.nearDupEdits).foreach { _ =>
        // one substitution in the middle third keeps both edge shingles
        val p = ws.length / 3 + r.nextInt(ws.length / 3)
        ws(p) = ws(p) + "x"
      }
      out += Doc(id, o.source, ws.mkString(" "), o.id, "near")
    }
    (0 until spec.contaminated).foreach { i =>
      id += 1
      out += Doc(id, "web", bench(i % bench.length).text, id, "contam")
    }
    (0 until spec.shortDocs).foreach { _ =>
      id += 1
      out += Doc(id, "web", text(5).mkString(" "), id, "short")
    }
    // shuffle so copies are not adjacent to their originals
    val all = out.result()
    var i = all.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
      i -= 1
    }
    (all, bench)
  }
}
