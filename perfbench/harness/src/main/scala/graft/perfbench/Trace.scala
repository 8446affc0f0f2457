package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Counters for the Spark work credited to one tag. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** The traced run's instruments, all of them Spark's own interfaces:
  *
  *   - a `SparkListener` that credits jobs, stages and task metrics to
  *     the `perfbench.tag` local property of the thread that submitted
  *     them (streaming queries inherit the tag of the thread that
  *     started them);
  *   - a `StreamingQueryListener` that keeps every data-bearing
  *     trigger's `durationMs`;
  *   - the codegen compile clock and class counter.
  *
  * Untraced runs never construct it, so they carry no listener.
  */
final class Trace(spark: SparkSession) {
  import Trace.TagKey

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val work = new ConcurrentHashMap[String, Work]()
  private val durations = new ConcurrentHashMap[String, java.util.List[java.lang.Long]]()

  private def workOf(tag: String): Work = work.computeIfAbsent(tag, _ => new Work)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      e.stageIds.foreach(stageTag.put(_, tag))
      val w = workOf(tag)
      w.synchronized { w.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageTag.getOrDefault(e.stageInfo.stageId, "untagged"))
      w.synchronized { w.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageTag.getOrDefault(e.stageId, "untagged"))
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.outputBytes += m.outputMetrics.bytesWritten
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          durations.computeIfAbsent(k,
            _ => java.util.Collections.synchronizedList(new java.util.ArrayList[java.lang.Long]()))
            .add(v)
        }
  }

  private def compileNanos =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def classes =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compileNanos0 = compileNanos
  private var classes0 = classes

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Deliver every pending listener event. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Start the timed section: forget the work, trigger durations and
    * compile time seen so far (set-up and warm-up).
    */
  def mark(): Unit = {
    drain()
    work.clear()
    durations.clear()
    compileNanos0 = compileNanos
    classes0 = classes
  }

  /** Work credited to tags matching `p` since [[mark]], summed. */
  def workWhere(p: String => Boolean): Work = {
    drain()
    val w = new Work
    work.asScala.foreach { case (k, v) => if (p(k)) v.synchronized { w += v } }
    w
  }

  /** Median `durationMs(key)` over the data-bearing triggers seen so far. */
  def durationMedianMs(key: String): Double = {
    drain()
    Option(durations.get(key)).map { l =>
      l.synchronized { Stats.median(l.asScala.map(_.toDouble).toSeq) }
    }.getOrElse(0.0)
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Fill the layer metrics every workload shares: engine work in the
    * timed section per unit of work (a batch, a registry pass), and the
    * streaming trigger phases.
    */
  def recordCommon(run: Run, units: Int): Unit = {
    val all = workWhere(_ => true)
    val n = math.max(units, 1).toDouble
    run.layer("spark.jobs") = all.jobs / n
    run.layer("spark.stages") = all.stages / n
    run.layer("spark.tasks") = all.tasks / n
    run.layer("spark.task_s") = all.taskMs / 1e3 / n
    run.layer("spark.shuffle_bytes") = all.shuffleBytes / n
    run.layer("spark.spill_bytes") = all.spillBytes / n
    run.layer("spark.input_bytes") = all.inputBytes / n
    run.layer("codegen.compile_s") = (compileNanos - compileNanos0) / 1e9 / n
    run.layer("codegen.classes") = (classes - classes0) / n
    Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning",
        "latestOffset", "getBatch", "triggerExecution").foreach { k =>
      run.layer(s"stream.${k}_ms") = durationMedianMs(k)
    }
  }
}

object Trace {
  val TagKey = "perfbench.tag"

  /** Run `f` with every job it submits credited to `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }

  /** `graft.ProbeMain`'s host marker: (1-min loadavg, single-core and
    * all-core xorshift M iters/s). About 3 s; context, not a metric.
    */
  def hostMarker(): String = {
    val p = graft.Bench.hostLoad()
    s"loadavg1=${p.la} probe_miters=${p.mips1} allcore_miters=${p.mipsAll}"
  }

  def loadavg(): String = f"${java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage}%.2f"
}
