package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload in one JVM:
  *
  * {{{
  * perfbench.Main <workload> <workDir> <seconds> <trace 0|1> [key=value ...]
  * }}}
  *
  * Set-up, the workload's untimed warm-up (if it has one), then whole rounds
  * until `seconds` have passed, then the output checks. Everything the caller needs goes to
  * `<workDir>/result.json`.
  */
object Main {
  def now: Double = System.nanoTime() / 1e9

  /** Steal and total ticks of the host so far (/proc/stat). */
  def hostTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (t(7), t.sum)
    } finally f.close()
  }

  /** Share of the host's CPU time the hypervisor stole since `ticks0`,
    * reported as a diagnostic of host load (`host.steal_pct`).
    */
  def stealShare(ticks0: (Long, Long)): Double = {
    val (steal, total) = hostTicks()
    if (total > ticks0._2) (steal - ticks0._1).toDouble / (total - ticks0._2) else 0.0
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** What a run hands back to the caller. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val rounds = mutable.ArrayBuffer[Double]()
    val roundsSteal = mutable.ArrayBuffer[Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val info = mutable.LinkedHashMap[String, String]()
    var setupSeconds = 0.0

    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += ((name, ok, if (ok) "" else detail))

    def span[A](name: String)(f: => A): A = {
      val t0 = now
      try f finally layers(name) = layers.getOrElse(name, 0.0) + (now - t0)
    }

    def toJson: String = {
      def q(s: String): String = jsonString(s)
      def num(d: Double): String =
        if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
      val cs = checks.map { case (n, ok, d) => s"""{"name":${q(n)},"ok":$ok,"detail":${q(d)}}""" }
      val ls = layers.map { case (k, v) => s"${q(k)}:${num(v)}" }
      val is = info.map { case (k, v) => s"${q(k)}:${q(v)}" }
      s"""{"setup_s":${num(setupSeconds)},""" +
        s""""rounds":[${rounds.map(num).mkString(",")}],""" +
        s""""rounds_steal":[${roundsSteal.map(num).mkString(",")}],""" +
        s""""attempted":$attempted,"failed":$failed,"checks":[${cs.mkString(",")}],""" +
        s""""layers":{${ls.mkString(",")}},"info":{${is.mkString(",")}}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg) = args.take(4)
    val params = args.drop(4).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val traced = traceArg == "1"
    val seconds = secondsArg.toDouble
    val master = sys.env.getOrElse("SPARK_MASTER", "local[1]")
    val cpus = master.stripPrefix("local[").stripSuffix("]")
    val res = new Result
    val workload0: Workload = workload match {
      case "fairness-cv" => new FairnessCv(params, workDir, master)
      case "query-mix" => new QueryMix(params, workDir, master, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    workload0.setup(res)
    res.setupSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    workload0.warmup(res)

    res.layers.clear()
    if (traced) Tracer.begin()
    val t0 = now
    var i = 0
    while (i == 0 || now - t0 < seconds) {
      val r0 = now
      val ticks0 = hostTicks()
      workload0.round(res, i)
      res.rounds += now - r0
      res.roundsSteal += stealShare(ticks0)
      i += 1
    }
    val windowEnd = System.currentTimeMillis()
    // stopping the session drains the listener bus; a session the workload
    // stopped itself was drained then
    SparkSession.getActiveSession.foreach(_.stop())
    if (traced) {
      Tracer.end(windowEnd)
      require(Tracer.installed, "traced run without the listener: spark.extraListeners not set")
      layerMetrics(res, i)
    }
    workload0.verify(res, traced)
    SparkSession.getActiveSession.foreach(_.stop())
    Files.writeString(Paths.get(workDir, "result.json"), res.toJson)
  }

  val modules = Seq("data", "core", "eval", "metrics", "etl", "dedup", "text", "functions",
    "similarity", "sketch", "graph", "multimodal", "model", "cli", "queries", "result")

  /** Listener counts, per round, into the result's per-layer metrics. */
  def layerMetrics(res: Result, rounds: Int): Unit = {
    val n = rounds.toDouble
    for (m <- modules) {
      res.layers(s"$m.job_s") = Tracer.jobSeconds(m) / n
      res.layers(s"$m.jobs") = Tracer.jobCount(m) / n
    }
    // spans were summed over all rounds: report them per round as well
    for (k <- res.layers.keys.toSeq if !modules.exists(m => k == s"$m.job_s" || k == s"$m.jobs"))
      res.layers(k) = res.layers(k) / n
    res.layers("queries.eager_jobs") = Tracer.eagerJobs / n
    res.layers("driver.idle_s") = Tracer.idleSeconds / n
    res.layers("spark.jobs") = Tracer.jobCount.values.sum / n
    res.layers("spark.tasks") = Tracer.tasks / n
    res.layers("spark.empty_tasks") = Tracer.emptyTasks / n
    res.layers("spark.task_s") = Tracer.taskSeconds / n
    res.layers("spark.cpu_s") = Tracer.cpuSeconds / n
    res.layers("spark.gc_s") = Tracer.gcSeconds / n
    res.layers("spark.shuffle_read_bytes") = Tracer.shuffleReadBytes / n
    res.layers("spark.shuffle_write_bytes") = Tracer.shuffleWriteBytes / n
    res.layers("spark.spill_bytes") = Tracer.spillBytes / n
    res.layers("etl.block_bytes_peak") = Tracer.blockBytesPeak.toDouble
  }
}

trait Workload {
  def setup(res: Main.Result): Unit
  def warmup(res: Main.Result): Unit
  def round(res: Main.Result, i: Int): Unit
  def verify(res: Main.Result, traced: Boolean): Unit
}
