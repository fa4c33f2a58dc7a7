package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Benchmark entry point. Usage (from the repository root, normally through
  * `perfbench/run.py`):
  * {{{ perfbench.Main <root> --workload W --seed N --seconds S --trace 0|1 }}}
  *
  * A run sets up the workload `SetupReps` times (median = `setup_s`),
  * warms it up (serving only: batch jobs start cold), then
  * measures for S seconds. With `--trace 1` the measurement runs with
  * spans, a Spark listener and file-system counters on, single-layer
  * probes follow, and the run reports the per-layer metrics instead of
  * the end-to-end ones, including the end-to-end values as traced. The
  * last stdout line is the result JSON. */
object Main {
  private val mapper = new ObjectMapper()
  val counters = new SparkCounters
  /** Set-ups per run; `setup_s` is their median. */
  private val SetupReps = 3

  /** Exits explicitly either way: no thread left behind by a layer may
    * keep the JVM alive. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val root = Paths.get(args(0)).toAbsolutePath
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts.getOrElse("--workload", usage("missing --workload"))
    val seed = opts.get("--seed").flatMap(_.toLongOption).getOrElse(usage("bad --seed"))
    val seconds = opts.get("--seconds").flatMap(_.toDoubleOption).filter(_ > 0)
      .getOrElse(usage("bad --seconds"))
    val trace = opts.get("--trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("--trace must be 0 or 1")
    }
    val bench = mapper.readTree(root.resolve("BENCHMARK.json").toFile)
    if (!Set("batch", "online").contains(workload)) usage(s"unknown workload $workload")
    val generators = mapper.readTree(root.resolve("perfbench/workloads.json").toFile).get("generators")

    val cores = Runtime.getRuntime.availableProcessors
    val work = root.resolve(s"perfbench/work/$workload-$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val builder = SparkSession.builder()
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = graft.Tables.configure(builder
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer
      val ctx = Ctx(spark, seed, cores, work, generators, tracer)
      val w: Workload = workload match {
        case "batch" => new Batch(ctx)
        case "online" => new Online(ctx)
      }
      val out = new Outcome
      try {
        val setups = (0 until SetupReps).map { i =>
          if (i > 0) Workload.deleteAll(work, s"setup${i - 1}")
          Stats.time(w.setup(i))._2
        }
        var heap = Jvm.liveHeapMb()
        w.warmup(out)
        val sc = spark.sparkContext
        if (trace) { sc.addSparkListener(counters); tracer.enabled = true }
        val fs0 = FsCounters.snapshot()
        val c0 = if (trace) counters.snapshot(sc) else Map.empty[String, Long]
        val gc0 = Jvm.gcSeconds()
        val (_, wall) = Stats.time(w.measure(seconds, out))
        val gc1 = Jvm.gcSeconds()
        tracer.enabled = false
        heap = math.max(heap, Jvm.liveHeapMb())
        out.e2e("setup_s") = Stats.median(setups)
        out.e2e("live_heap_mb") = heap

        val metrics: Seq[(String, Double)] =
          if (!trace) names(bench, "end_to_end").map(n => n -> out.e2e(n))
          else {
            val c1 = counters.snapshot(sc)
            val fs1 = FsCounters.snapshot()
            w.probe(out)
            val d = (k: String) => (c1(k) - c0(k)).toDouble
            val engine = Map(
              "spark.jobs" -> d("jobs"), "spark.stages" -> d("stages"), "spark.tasks" -> d("tasks"),
              "spark.executor_run_s" -> d("executor_run_ms") / 1e3,
              "spark.driver_share" -> (1.0 - d("executor_run_ms") / 1e3 / (wall * cores)),
              "spark.shuffle_write_bytes" -> d("shuffle_write_bytes"),
              "spark.spill_bytes" -> d("spill_bytes"), "spark.input_bytes" -> d("input_bytes"),
              "jvm.gc_s" -> (gc1 - gc0),
              "fs.opens" -> (fs1("opens") - fs0("opens")).toDouble,
              "fs.ops" -> (fs1("ops") - fs0("ops")).toDouble,
              "fs.bytes_read" -> (fs1("bytes_read") - fs0("bytes_read")).toDouble,
              "fs.bytes_written" -> (fs1("bytes_written") - fs0("bytes_written")).toDouble)
            val self = tracer.selfSeconds.map { case (l, s) => s"self.${l}_s" -> s }
            // the end-to-end metrics as measured with tracing on; minus the
            // same seed's untraced run, they give the tracing overhead
            val traced = names(bench, "end_to_end").filter(n => n != "setup_s" && n != "live_heap_mb")
              .map(m => s"traced.$m" -> out.e2e(m))
            val all = out.layer.toMap ++ engine ++ self ++ traced
            all.toSeq.sortBy(_._1).foreach { case (n, v) => System.err.println(f"perfbench: $n%-40s $v%.6g") }
            tracer.writeJson(root.resolve(s"perfbench/out/trace-$workload-$seed.json"))
            System.err.println(s"perfbench: spans written to perfbench/out/trace-$workload-$seed.json")
            // a layer the workload does not call reports 0
            names(bench, "per_layer").map(n => n -> all.getOrElse(n, 0.0))
          }
        println(s"""{"config":{"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
          s""""trace":$trace,"nproc":$cores,"shuffle_partitions":$cores,"client_threads":$cores,""" +
          s""""driver_heap_mb":${Jvm.maxHeapMb}}}""")
        val units = (names(bench, "end_to_end") ++ names(bench, "per_layer")).zip(
          (nodes(bench, "end_to_end") ++ nodes(bench, "per_layer")).map(_.get("unit").asText)).toMap
        val body = metrics.map { case (n, v) =>
          require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
          s""""$n":{"value":$v,"unit":"${units(n)}"}"""
        }.mkString(",")
        println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
          s""""failed":${out.failed},"metrics":{$body}}""")
      } finally w.close()
    } finally {
      spark.stop()
      // the result is out: a leftover scratch file must not fail the run
      try Workload.deleteTree(work)
      catch {
        case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          System.err.println(s"perfbench: could not remove $work: $e")
      }
    }
  }

  private def nodes(bench: JsonNode, key: String): Seq[JsonNode] = bench.get(key).elements.asScala.toSeq
  private def names(bench: JsonNode, key: String): Seq[String] = nodes(bench, key).map(_.get("name").asText)

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench/run.py --workload W --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }
}
