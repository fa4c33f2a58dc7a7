package perfbench

/** Batch planes as a user runs them: each job starts in a fresh JVM and
  * does its fixed work once. The feature backfill with model training
  * ([[Backfill]]) and LLM corpus preparation ([[Corpus]]) share the run,
  * so the JVM and Spark start-up is paid once for both.
  *
  * `op_p50_ms` is the backfill, `aux_p50_ms` training, `rate2_per_s`
  * backfill input rows per second; `op2_p50_ms` is corpus prepare +
  * near-dup removal, `aux2_p50_ms` tokenization (median of three
  * passes), `rate_per_s` corpus documents per second. */
final class Batch(ctx: Ctx) extends Workload {
  private val backfill = new Backfill(ctx.sub("backfill"))
  private val corpus = new Corpus(ctx.sub("corpus"))

  def setup(rep: Int): Unit = { backfill.setup(rep); corpus.setup(rep) }

  /** No warm-up: a batch job pays its JVM's cold start. */
  def warmup(out: Outcome): Unit = ()

  /** Fixed work, longer than `seconds` on a 4-core machine: one pass each. */
  def measure(seconds: Double, out: Outcome): Unit = {
    backfill.measure(out)
    corpus.measure(out)
  }

  def probe(out: Outcome): Unit = { backfill.probe(out); corpus.probe(out) }
}
