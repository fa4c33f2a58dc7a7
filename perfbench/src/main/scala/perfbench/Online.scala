package perfbench

/** Online planes in one long-running JVM: the serving loop ([[Serve]])
  * first, then a catch-up drain of the stream backlog ([[StreamLoad]])
  * while the server stays up.
  *
  * `op_p50_ms`, `aux_p50_ms` and `rate_per_s` are serving's: lookup p50,
  * `/similar` p50, requests per second. `op2_p50_ms`, `aux2_p50_ms` and
  * `rate2_per_s` are streaming's: trigger p50, online read p50, input
  * rows per second after the first trigger. */
final class Online(ctx: Ctx) extends Workload {
  private val serve = new Serve(ctx.sub("serve"))
  private val stream = new StreamLoad(ctx.sub("stream"))

  def setup(rep: Int): Unit = { serve.setup(rep); stream.setup(rep) }

  def warmup(out: Outcome): Unit = serve.warmup()

  def measure(seconds: Double, out: Outcome): Unit = {
    serve.measure(seconds, out)
    stream.measure(out)
  }

  def probe(out: Outcome): Unit = serve.probe(out)

  override def close(): Unit = serve.close()
}
