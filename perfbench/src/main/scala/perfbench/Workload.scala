package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.JsonNode

/** Everything a workload gets from the harness. `generators` is the
  * `generators` object of `workloads.json`: one entry of parameters per
  * input generator. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, work: Path,
    generators: JsonNode, tracer: Tracer) {
  /** Parameter `key` of generator `gen`. */
  def param(gen: String, key: String): JsonNode =
    Option(generators.get(gen)).flatMap(g => Option(g.get(key))).getOrElse(
      throw new IllegalArgumentException(s"workloads.json: missing generators.$gen.$key"))
  /** The card population every transaction generator draws from. */
  def cards: Gen.TxnSpec =
    Gen.TxnSpec(param("cards", "cards").asInt, param("cards", "card_zipf_s").asDouble, seed)
  def dir(name: String): String = work.resolve(name).toString
  /** The context of a part of this workload: its own directory. */
  def sub(name: String): Ctx = copy(work = work.resolve(name))
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Runs `f`; in a traced run, also reports the Spark driver share of
    * the phase as `spark.<name>_driver_share`: 1 − executor time ÷
    * (wall × cores). */
  def phase[T](name: String, out: Outcome)(f: => T): T =
    if (!tracer.enabled) f
    else {
      val sc = spark.sparkContext
      val e0 = Main.counters.snapshot(sc)("executor_run_ms")
      val (r, wall) = Stats.time(f)
      val exec = (Main.counters.snapshot(sc)("executor_run_ms") - e0) / 1e3
      out.layer(s"spark.${name}_driver_share") = 1.0 - exec / (wall * cores)
      r
    }
}

/** Counts of attempted and failed operations and checks, plus metrics. */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) System.err.println(s"perfbench: check failed: $name $detail")
    }
  }
}

/** One workload: set-up can run several times (each into fresh
  * directories, the last one stays live); `measure` records the
  * end-to-end metrics; `probe` takes the traced run's extra single-layer
  * measurements. */
trait Workload {
  def setup(rep: Int): Unit
  def warmup(out: Outcome): Unit
  def measure(seconds: Double, out: Outcome): Unit
  def probe(out: Outcome): Unit
  def close(): Unit = ()
}

object Workload {
  /** Deletes the directory `name` in every part of the workload
    * (`root/<part>/<name>`). Lists only the parts, so it never walks
    * Spark's local directories while Spark writes and cleans them. */
  def deleteAll(root: Path, name: String): Unit = {
    val s = java.nio.file.Files.list(root)
    val parts = try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    parts.map(_.resolve(name)).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
}
