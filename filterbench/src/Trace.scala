package filterbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `start`/`end` are epoch microseconds; `parent`
  * is the id of the span that caused this one ("" for a root); `req`
  * names the request it belongs to (file id, trigger id, key + pass). */
final case class Span(id: String, parent: String, name: String, req: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty)

/** Bench-side tracer. Spans live in memory and are written out once,
  * when the run ends. When `on` is false nothing is recorded and no
  * listener is registered, so the untraced run pays only the clock
  * reads it needs for its own metrics. */
final class Tracer(val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[String]](() => Nil)
  @volatile private var sc: SparkContext = null

  /** Local property carrying the innermost open span to the jobs the
    * calling thread submits. */
  val spanProperty = "filterbench.span"

  /** Epoch µs, from a monotonic clock anchored once at start-up. */
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  /** Runs `body`, returns its result and wall time in ns; when tracing,
    * records a span child of the caller's open span. */
  def timed[T](name: String, req: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    if (!on) { val r = body; (r, System.nanoTime() - t0) }
    else {
      val id = "b" + seq.incrementAndGet()
      val outer = stack.get
      val s0 = nowUs()
      stack.set(id :: outer)
      val prevProp = if (sc != null) sc.getLocalProperty(spanProperty) else null
      if (sc != null) sc.setLocalProperty(spanProperty, id)
      try { val r = body; (r, System.nanoTime() - t0) }
      finally {
        if (sc != null) sc.setLocalProperty(spanProperty, prevProp)
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(""), name, req, s0, nowUs()))
      }
    }
  }

  def span[T](name: String, req: String)(body: => T): T = timed(name, req)(body)._1

  /** Registers the Spark and streaming listeners (tracing only). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new JobListener)
    spark.streams.addListener(new TriggerListener)
  }

  /** Trigger span id: stream jobs carry the batch id, so their parent
    * is known before the trigger's own span is reported. */
  private def triggerId(runId: String, batch: Long) = s"t:$runId:$batch"

  private final class TriggerListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val endUs = startUs + (d.getOrElse("triggerExecution", 0.0) * 1000).toLong
      spans.add(Span(triggerId(p.runId.toString, p.batchId), "", "stream.trigger",
        s"batch:${p.batchId}", startUs, endUs,
        d + ("numInputRows" -> p.numInputRows.toDouble)))
    }
  }

  /** Job → stage → task spans. A job's parent is the trigger that ran
    * it (stream jobs) or the bench span open on the submitting thread. */
  private final class JobListener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
        case (Some(_), Some(b)) =>
          // the stream thread tags its jobs with the run id that
          // progress events report (and uses it as the job group)
          prop("sql.streaming.runId").orElse(prop("spark.jobGroup.id"))
            .map(r => triggerId(r, b.toLong)).getOrElse(s"batch:$b")
        case _ => prop(spanProperty).getOrElse("")
      }
      jobStart.put(e.jobId, (e.time * 1000L, parent))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (s0, parent) = Option(jobStart.remove(e.jobId)).getOrElse((e.time * 1000L, ""))
      spans.add(Span(s"j${e.jobId}", parent, "spark.job", s"job:${e.jobId}", s0, e.time * 1000L))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val job = Option(stageJob.get(i.stageId)).map(j => s"j$j").getOrElse("")
      for (s0 <- i.submissionTime; s1 <- i.completionTime)
        spans.add(Span(s"s${i.stageId}.${i.attemptNumber()}", job, "spark.stage",
          s"stage:${i.stageId}", s0 * 1000L, s1 * 1000L,
          Map("tasks" -> i.numTasks.toDouble)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val attrs =
        if (m == null) Map("failed" -> (if (ti.successful) 0.0 else 1.0))
        else Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "deser_ms" -> m.executorDeserializeTime.toDouble,
          "ser_ms" -> m.resultSerializationTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "peak_exec_mem_bytes" -> m.peakExecutionMemory.toDouble,
          "failed" -> (if (ti.successful) 0.0 else 1.0))
      spans.add(Span(s"k${ti.taskId}", s"s${e.stageId}.${e.stageAttemptId}", "spark.task",
        s"stage:${e.stageId}", ti.launchTime * 1000L, ti.finishTime * 1000L, attrs))
    }
  }
}

/** JVM-level samplers shared by the traced and untraced runs: GC
  * notifications (pause, post-GC heap), process CPU and host counters. */
object JvmProbe {
  /** (epoch ms at notification, pause ms, heap bytes used after GC) */
  val gcEvents = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  def install(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val gi = info.getGcInfo
              val used = gi.getMemoryUsageAfterGc.asScala.valuesIterator.map(_.getUsed).sum
              gcEvents.add((System.currentTimeMillis(), gi.getDuration, used))
            }
        }, null, null)
      case _ =>
    }
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Total time the JIT compilers have spent so far, in ms. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def readFirst(path: String, pred: String => Boolean): String =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(pred).getOrElse("") finally src.close()
    } catch { case _: java.io.IOException => "" }

  /** The aggregate `cpu` line of /proc/stat (empty off Linux). */
  def procStatCpu(): String = readFirst("/proc/stat", _.startsWith("cpu "))

  /** Peak resident set of this process in kB (VmHWM). */
  def rssPeakKb(): Long =
    readFirst("/proc/self/status", _.startsWith("VmHWM:"))
      .split("\\s+").lift(1).flatMap(_.toLongOption).getOrElse(0L)
}
