package perfbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Listener the benchmark registers (through `spark.extraListeners`) in a
  * traced run, so that it is attached to every SparkContext the JVM creates,
  * including the ones `GenerateMetrics` builds and stops on its own.
  *
  * All state lives in the companion object: one workload may go through
  * several SparkContexts, and their counts add up.
  */
class Tracer(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))
  Tracer.installed = true

  override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.jobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.taskEnd(e)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.blockUpdated(e)
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = Tracer.contextEnded()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => Tracer.executionStart(s.executionId, s.details)
    case _ => ()
  }
}

object Tracer {
  @volatile var installed = false

  /** Local property naming the module a materialized result belongs to. */
  val ModuleProperty = "perfbench.module"

  /** Layer of a job: the package under `graft.` of the innermost `graft.`
    * frame in the call-site details of the job's SQL execution or, for a job
    * outside one, of its stages. The short stage name is not enough: for
    * MLlib fits it names Spark files. Query bodies in `graft.SparkEntry` are
    * the `queries` layer; a job with no `graft.` frame materializes a lazy
    * result the benchmark asked for (`result`).
    */
  def moduleOf(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "result"
      case Some(frame) =>
        val part = frame.split('.')(1)
        if (part.nonEmpty && part.head.isLower) part
        else if (part.startsWith("SparkEntry")) "queries"
        else "graft"
    }

  /** Local property set while a query's plan is built: jobs started then
    * are eager jobs of plan construction.
    */
  val PhaseProperty = "perfbench.phase"

  private var open = false
  private val executions = mutable.Map[Long, String]()
  private val jobStarts = mutable.Map[Int, (Long, String)]()
  val jobSeconds = mutable.Map[String, Double]().withDefaultValue(0.0)
  val jobCount = mutable.Map[String, Long]().withDefaultValue(0L)
  var eagerJobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var taskSeconds = 0.0
  var cpuSeconds = 0.0
  var gcSeconds = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  var blockBytesPeak = 0L
  private var windowStart = 0L
  private var windowEnd = Long.MaxValue

  /** Open the measured window: every counter starts again from zero. Jobs
    * and tasks belong to the window by their start time, so events the bus
    * delivers late are still counted where they belong.
    */
  def begin(): Unit = synchronized {
    jobStarts.clear(); jobSeconds.clear(); jobCount.clear(); taskIntervals.clear()
    eagerJobs = 0; tasks = 0; emptyTasks = 0; taskSeconds = 0; cpuSeconds = 0; gcSeconds = 0
    shuffleReadBytes = 0; shuffleWriteBytes = 0; spillBytes = 0
    blockBytesPeak = blockBytes
    windowStart = System.currentTimeMillis()
    windowEnd = Long.MaxValue
    open = true
  }

  /** Close the window at `endMillis`. Call it once every SparkContext of the
    * window has stopped: a stop drains the listener bus, so the counts are
    * complete.
    */
  def end(endMillis: Long): Unit = synchronized {
    windowEnd = endMillis
    open = false
  }

  private def inWindow(millis: Long): Boolean = millis >= windowStart && millis <= windowEnd

  private[perfbench] def executionStart(id: Long, details: String): Unit = synchronized {
    executions(id) = moduleOf(details)
  }

  private[perfbench] def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (inWindow(e.time)) {
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty(PhaseProperty) == "plan")) eagerJobs += 1
      val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong))
      val fromStack = execution.getOrElse(
        moduleOf(e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")))
      // a lazy result the benchmark materializes belongs to the module the
      // benchmark named for it
      val module = if (fromStack != "result") fromStack
        else props.flatMap(p => Option(p.getProperty(ModuleProperty))).getOrElse(fromStack)
      jobStarts(e.jobId) = (e.time, module)
    }
  }

  private[perfbench] def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, module) =>
      jobSeconds(module) += (e.time - t0) / 1e3
      jobCount(module) += 1
    }
  }

  private[perfbench] def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && inWindow(e.taskInfo.launchTime)) {
      tasks += 1
      taskSeconds += m.executorRunTime / 1e3
      cpuSeconds += m.executorCpuTime / 1e9
      gcSeconds += m.jvmGCTime / 1e3
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) emptyTasks += 1
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  private[perfbench] def blockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      if (open) blockBytesPeak = math.max(blockBytesPeak, blockBytes)
    }
  }

  /** A stopped context takes its blocks along without a removal event. */
  private[perfbench] def contextEnded(): Unit = synchronized {
    blocks.clear()
    blockBytes = 0
  }

  /** Wall time of the window during which no task ran. */
  def idleSeconds: Double = synchronized {
    var covered = 0L
    var reach = windowStart
    for ((s0, e0) <- taskIntervals.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, windowEnd)
      if (e > s) { covered += e - s; reach = e }
    }
    math.max(0L, windowEnd - windowStart - covered) / 1e3
  }
}
