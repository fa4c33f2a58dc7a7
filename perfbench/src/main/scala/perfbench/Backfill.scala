package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.batch.FeaturePipeline
import graft.ml.FraudModel
import graft.operators.Snapshots
import graft.schema.Txn

/** Batch plane: input transactions → features → offline snapshot table,
  * then daily increments merged in (a share of each corrects old rows),
  * then a training set fetched through SQL time travel, a model fit,
  * and inference.
  *
  * Part of the `batch` workload, where it sets `op_p50_ms`, the backfill
  * (input to a current offline table), `aux_p50_ms`, training (SQL fetch,
  * fit, evaluate), and `rate2_per_s`, input rows per backfill second. */
final class Backfill(ctx: Ctx) {
  private val spark: SparkSession = ctx.spark
  private val featKeys = Seq("cc_num", "feature_timestamp")
  // Sizes: a base load of 40,000 rows over 10 days, then one daily
  // increment of 3,000 rows; training reads from day 1 on.
  private val BaseRows = 40000
  private val BaseDays = 10
  private val K = 1
  private val IncrementRows = 3000
  private val TrainFromDay = 1
  private var input: String = _
  private var inputRows = 0L
  private var finalRows = 0L
  private var trainFrom: String = _

  def setup(rep: Int): Unit = {
    val gen = new Gen.TxnGen(ctx.cards, stream = 1)
    val base = gen.txns(BaseRows, Gen.Epoch0, BaseDays * 86400L)
    val state = mutable.LinkedHashMap[(Long, java.sql.Timestamp), Txn]()
    base.foreach(t => state((t.cc_num, t.trans_date_trans_time)) = t)
    input = ctx.dir(s"setup$rep")
    write(base, s"$input/base")
    inputRows = base.length
    (1 to K).foreach { i =>
      val keys = state.keys.toIndexedSeq
      val nCorr = (IncrementRows * ctx.param("backfill", "correction_share").asDouble).round.toInt
      val corrected = Iterator.continually(gen.pick(keys)).distinct.take(nCorr)
        .map(k => gen.correct(state(k))).toArray
      val fresh = gen.txns(IncrementRows, Gen.Epoch0 + (BaseDays + i - 1) * 86400L, 86400L)
      val inc = corrected ++ fresh
      // the history an increment is computed against holds every earlier
      // row except the versions this increment replaces
      corrected.foreach(t => state.remove((t.cc_num, t.trans_date_trans_time)))
      write(state.values.toArray, s"$input/hist$i")
      write(inc, s"$input/inc$i")
      inc.foreach(t => state((t.cc_num, t.trans_date_trans_time)) = t)
      inputRows += inc.length
    }
    finalRows = state.size
    trainFrom = new java.sql.Timestamp((Gen.Epoch0 + TrainFromDay * 86400L) * 1000L).toString
  }

  private def write(rows: Array[Txn], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(rows.toSeq).write.parquet(path)
  }

  private def read(name: String): DataFrame = spark.read.parquet(s"$input/$name")

  /** Every input row, latest version per key. */
  private def finalInput: DataFrame = read(s"hist$K").unionByName(read(s"inc$K"))

  /** Copy-on-write files rewritten, commits, and footer opens during commits. */
  private var filesRewritten = 0L
  private var commits = 0L
  private var commitOpens = 0L
  /** Bytes the backfill wrote. */
  private var backfillBytes = 0L

  /** A commit-path call, with the file opens it issues when tracing. */
  private def commitCall[T](name: String)(f: => T): T = {
    val before = FsCounters.snapshot()("opens")
    val r = ctx.span(name)(f)
    commits += 1
    commitOpens += FsCounters.snapshot()("opens") - before
    r
  }

  private def tables: String = ctx.dir("tables")
  private def feats: String = s"$tables/features"

  private def fetchSql: String = {
    val v = Snapshots.latestVersion(spark, feats).get
    s"SELECT * FROM graft.features VERSION AS OF $v " +
      s"WHERE feature_timestamp >= TIMESTAMP '$trainFrom'"
  }

  /** The backfill (features → commit, then each increment merged) and
    * the training (SQL fetch, fit, evaluate); returns the model, its
    * metrics and the start, backfill-end and training-end times. */
  private def backfillAndTrain() = {
    val written0 = FsCounters.snapshot()("bytes_written")
    val t0 = System.nanoTime()
    val f0 = ctx.span("batch.features")(FeaturePipeline.features(read("base")))
    commitCall("operators.commit")(Snapshots.commit(spark, feats, f0))
    (1 to K).foreach { i =>
      val fi = ctx.span("batch.incremental")(
        FeaturePipeline.incrementalFeatures(read(s"inc$i"), read(s"hist$i")))
      val cow = commitCall("operators.merge")(Snapshots.mergeBatch(spark, feats, fi, featKeys, i))
      filesRewritten += cow.map(_.filesRewritten).getOrElse(0)
    }
    val t1 = System.nanoTime()
    backfillBytes = FsCounters.snapshot()("bytes_written") - written0
    val df = ctx.span("operators.sql")(spark.sql(fetchSql))
    val (model, m) = ctx.span("ml.fit")(FraudModel.train(df))
    (model, m, t0, t1, System.nanoTime())
  }

  /** One backfill and one training, timed separately. */
  def measure(out: Outcome): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", tables)
    val (model, m, t0, t1, t2) = ctx.phase("backfill", out)(backfillAndTrain())
    val scored = ctx.span("ml.infer")(FraudModel.infer(model, Snapshots.read(spark, feats))
      .agg(count(lit(1)), sum(col("fraud_pred"))).head())
    out.check("ml quality envelope", m.accuracy >= 0.94 && m.precision >= 0.85 &&
      m.recall >= 0.80 && m.f1 >= 0.84, s"$m")
    out.check("inference scores every row", scored.getLong(0) == finalRows)

    out.e2e("op_p50_ms") = (t1 - t0) / 1e6
    out.e2e("aux_p50_ms") = (t2 - t1) / 1e6
    out.e2e("rate2_per_s") = inputRows / ((t1 - t0) / 1e9)
    out.layer("operators.files_rewritten") = filesRewritten.toDouble
    out.layer("operators.fs_opens_per_commit") = commitOpens.toDouble / commits
    out.layer("ml.fit_s") = ctx.tracer.seconds("ml.fit")
    out.layer("ml.infer_s") = ctx.tracer.seconds("ml.infer")
    out.layer("ml.f1") = m.f1
    // write amplification: bytes the backfill wrote ÷ bytes live in the table
    val live = Snapshots.filesAt(spark, feats, Snapshots.latestVersion(spark, feats).get).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    out.layer("operators.write_amp") = backfillBytes.toDouble / live
    verify(out)
  }

  /** The merged table equals a full recompute over the final input. */
  private def verify(out: Outcome): Unit = {
    val expected = FeaturePipeline.features(finalInput)
    val actual = Snapshots.read(spark, feats)
    out.check("merged features == full recompute",
      expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty)
  }

  def probe(out: Outcome): Unit = {
    val sc = spark.sparkContext
    val counters = Main.counters
    val (_, fs) = Stats.time(FeaturePipeline.features(read("base")).write.format("noop").mode("overwrite").save())
    out.layer("batch.features_s") = fs
    val incS = (1 to K).map(i => Stats.time(FeaturePipeline.incrementalFeatures(
      read(s"inc$i"), read(s"hist$i")).write.format("noop").mode("overwrite").save())._2).sum
    out.layer("batch.incremental_s") = incS

    // the commit and merge calls of the backfill alone: the same calls on
    // feature frames already materialized, into a table of their own
    val table = ctx.dir("probe-features")
    val f0 = FeaturePipeline.features(read("base")).localCheckpoint()
    out.layer("operators.commit_s") = Stats.time(Snapshots.commit(spark, table, f0))._2
    out.layer("operators.merge_s") = (1 to K).map { i =>
      val fi = FeaturePipeline.incrementalFeatures(read(s"inc$i"), read(s"hist$i")).localCheckpoint()
      Stats.time(Snapshots.mergeBatch(spark, table, fi, featKeys, i))._2
    }.sum

    val jobs0 = counters.snapshot(sc)("jobs")
    val df = spark.sql(fetchSql)
    df.queryExecution.executedPlan
    out.layer("operators.planning_jobs") = (counters.snapshot(sc)("jobs") - jobs0).toDouble
    out.layer("operators.sql_fetch_s") =
      Stats.time(df.write.format("noop").mode("overwrite").save())._2
  }
}
