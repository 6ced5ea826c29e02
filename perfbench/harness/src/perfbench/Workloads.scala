package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.Datasets
import graft.eval.CrossVal
import graft.metrics.{FairnessMetrics, GroupCondition}

/** `GenerateMetrics` run as a user runs it, once with method `biased` and
  * once with `demv`, on the compas table in `<workDir>/input`. A round is the
  * two calls; an operation is one fold. The benchmark sets only the master
  * (`SPARK_MASTER`): every call builds, configures and stops its own session.
  * Set-up ends with the inputs written. There is no warm-up: the first round
  * is what a user who starts a JVM to run the experiment waits for.
  */
final class FairnessCv(params: Map[String, String], workDir: String, master: String)
    extends Workload {
  private val folds = params("folds").toInt
  private val inDir = s"$workDir/input"
  private val methods = Seq("biased", "demv")

  def setup(res: Main.Result): Unit = ()

  def warmup(res: Main.Result): Unit = ()

  def round(res: Main.Result, i: Int): Unit =
    for (m <- methods) {
      res.attempted += folds
      try res.span(s"cli.${m}_s") {
        graft.cli.GenerateMetrics.main(Array("compas", m, "2", "--data-dir", inDir,
          "--out-dir", s"$workDir/out/r$i", "--folds", folds.toString))
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] GenerateMetrics $m failed: $t")
          t.printStackTrace()
          res.failed += folds
          SparkSession.getActiveSession.foreach(_.stop())
      }
    }

  /** The metrics CSVs are checked by the caller. A traced run also refits
    * fold 0 of the `biased` method and recomputes statistical parity and
    * accuracy from its out-of-fold predictions, apart from
    * `FairnessMetrics`.
    */
  def verify(res: Main.Result, traced: Boolean): Unit = if (traced) {
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    val spec = Datasets.get(spark, "compas", inDir, 2)
    val labels = CrossVal.labelValues(spec.df, spec.label)
    val folded = CrossVal.withFolds(spec.df, folds)
    val test = folded.where(col("__fold") === 0).drop("__fold")
    val train = folded.where(col("__fold") =!= 0).drop("__fold")
    val features = spec.df.columns.filterNot(_ == spec.label).toSeq
    val model = CrossVal.pipeline("logistic", features, "__y", labels.length)
      .fit(CrossVal.indexLabel(train, spec.label, labels))
    val pred = CrossVal.mapPredictionBack(
      model.transform(CrossVal.indexLabel(test, spec.label, labels)), labels).cache()
    val m = FairnessMetrics.compute(pred, spec.sensitiveVars, GroupCondition(spec.unprivGroup),
      "prediction", spec.label, spec.positiveLabel)
    val rows = pred.select((spec.sensitiveVars ++ Seq("prediction", spec.label)).map(col): _*)
      .collect()
    val k = spec.sensitiveVars.length
    def num(x: Any): Double = x.asInstanceOf[Number].doubleValue()
    val pos = num(spec.positiveLabel)
    val (unpriv, priv) = rows.partition(r => spec.sensitiveVars.indices.forall(i =>
      num(r.get(i)) == num(spec.unprivGroup(spec.sensitiveVars(i)))))
    def posRate(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.count(r => num(r.get(k)) == pos).toDouble / rs.length
    val statPar = posRate(unpriv) - posRate(priv)
    val acc = rows.count(r => num(r.get(k)) == num(r.get(k + 1))).toDouble / rows.length
    res.check("fairness-cv: recomputed stat_par matches FairnessMetrics",
      math.abs(statPar - m.statisticalParity) < 1e-12,
      s"recomputed $statPar, FairnessMetrics ${m.statisticalParity}")
    res.check("fairness-cv: recomputed accuracy matches FairnessMetrics",
      math.abs(acc - m.accuracy) < 1e-12, s"recomputed $acc, FairnessMetrics ${m.accuracy}")
    pred.unpersist()
  }
}

/** One pass over a fixed list of `SparkEntry.queries`, run as `graft.Bench`
  * runs them: noop sink, operator caches drained after each query outside
  * the timed window. A round is one pass; an operation is one query. The
  * warm-up pass writes each result to parquet for the oracle check.
  */
final class QueryMix(params: Map[String, String], workDir: String, master: String,
    cpus: String) extends Workload {
  // name:module pairs; the module is the layer that executing the query's
  // lazy result is attributed to
  private val modules = params("queries").split(",").map { q =>
    val Array(name, module) = q.split(":")
    name -> module
  }.toMap
  private val names = params("queries").split(",").map(_.split(":")(0)).toSeq
  private val dataDir = s"$workDir/input"
  private var spark: SparkSession = _
  private lazy val fns = names.map { n =>
    n -> graft.SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(s"no query $n"))
  }

  def setup(res: Main.Result): Unit = {
    spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    fns
  }

  def warmup(res: Main.Result): Unit = {
    val dump = s"$workDir/dump"
    val failed = fns.flatMap { case (name, fn) =>
      try {
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
        None
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] $name failed in the warm-up pass: $t")
          t.printStackTrace()
          Some(name)
      } finally graft.etl.CacheTracker.unpersistCaches(blocking = true)
    }
    res.info("warmup_failed") = failed.mkString(",")
    // the oracle SQL of some queries embeds constants the pass just trained;
    // golden VALUES oracles are kept only for the data set they were pinned
    // on, as graft.Verify selects them
    val oracle = (graft.SparkEntry.oracleSql -- graft.GoldenOracles.queries ++
      graft.GoldenOracles.forDir(dataDir)).filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dump, "oracle_sql.json"), oracle.map { case (k, v) =>
      s"${Main.jsonString(k)}: ${Main.jsonString(v)}"
    }.mkString("{", ",", "}"))
  }

  def round(res: Main.Result, i: Int): Unit = for ((name, fn) <- fns) {
    res.attempted += 1
    val sc = spark.sparkContext
    try res.span(s"q.${name}_s") {
      sc.setLocalProperty(Tracer.PhaseProperty, "plan")
      val df =
        try res.span("queries.plan_s")(fn(spark, dataDir))
        finally sc.setLocalProperty(Tracer.PhaseProperty, null)
      sc.setLocalProperty(Tracer.ModuleProperty, modules(name))
      try res.span("queries.exec_s")(df.write.format("noop").mode("overwrite").save())
      finally sc.setLocalProperty(Tracer.ModuleProperty, null)
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] $name failed: $t")
        t.printStackTrace()
        res.failed += 1
    } finally graft.etl.CacheTracker.unpersistCaches(blocking = true)
  }

  /** The dumped results are checked by the caller against DuckDB. */
  def verify(res: Main.Result, traced: Boolean): Unit = ()
}
