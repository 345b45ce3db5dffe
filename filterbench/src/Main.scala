package filterbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload and writes the raw run record
  * (timestamps, samples, progress events, spans, output checks) as
  * JSON. `run.py` turns the record into the reported metrics.
  *
  * Usage: filterbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --work DIR --out FILE */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cpus: Int, work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cpus").toInt, get("work"), get("out"))
  }

  /** What the program's `GraftSession.local(cpus)` builds — the same
    * master, shuffle width and `tuned` confs — with the warehouse and
    * Spark's scratch space kept inside the benchmark's work directory. */
  def session(a: Args): SparkSession =
    graft.GraftSession.tuned(SparkSession.builder()
        .master(s"local[${a.cpus}]")
        .config("spark.sql.shuffle.partitions", a.cpus.toString))
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    JvmProbe.install()
    val rec = new Record
    val tr = new Tracer(a.trace)
    val code =
      try {
        val (spark, sessionNs) = tr.timed("GraftSession.local", "session")(session(a))
        spark.sparkContext.setLogLevel("WARN")
        tr.attach(spark)
        rec("session_build_ms") = sessionNs / 1e6
        rec("provenance") = Map(
          "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
          "trace" -> a.trace, "cpus" -> a.cpus,
          "master" -> spark.sparkContext.master,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
          "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
            .filter(s => s.startsWith("-Xm") || s.startsWith("-XX")).toSeq,
          "spark" -> spark.version,
          "scala" -> scala.util.Properties.versionNumberString,
          "java" -> System.getProperty("java.version"))
        val w: Workload = a.workload match {
          case "filter_live"    => new FilterLive(spark, tr, a, rec)
          case "fanout_drain"   => new FanoutDrain(spark, tr, a, rec)
          case "registry_batch" => new RegistryBatch(spark, tr, a, rec)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        w.run()
        rec("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
        rec("rss_peak_kb") = JvmProbe.rssPeakKb()
        rec("gc") = JvmProbe.gcEvents.asScala.map { case (t, d, u) =>
          Map("t_ms" -> t, "pause_ms" -> d, "used_after" -> u) }.toSeq
        rec("spans") = tr.spans.asScala.toSeq
        spark.stop()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.problems += s"run aborted: $e"
          1
      }
    rec("attempted") = rec.attempted
    rec("failed") = rec.failed
    rec("problems") = rec.problems.toSeq
    Files.writeString(Paths.get(a.out), Json(rec.fields))
    sys.exit(code)
  }
}

/** The raw run record plus the JVM-side output checks. */
final class Record {
  val fields = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()

  def update(k: String, v: Any): Unit = fields(k) = v

  /** Marks where measurement starts (`atMs`, epoch ms) and ends: wall
    * clock, process CPU and the host's /proc/stat counters. */
  def markStart(atMs: Long = System.currentTimeMillis()): Unit = {
    fields("measure_start_ms") = atMs
    fields("jit_ms_start") = JvmProbe.jitMs()
    fields("cpu_ns_start") = JvmProbe.processCpuNs()
    fields("proc_stat_start") = JvmProbe.procStatCpu()
  }

  def markEnd(): Unit = {
    fields("measure_end_ms") = System.currentTimeMillis()
    fields("jit_ms_end") = JvmProbe.jitMs()
    fields("cpu_ns_end") = JvmProbe.processCpuNs()
    fields("proc_stat_end") = JvmProbe.procStatCpu()
  }

  /** Counts one attempted operation; a false `ok` is a failure. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  /** Runs checks that count themselves through `op`; a throw counts
    * as one failed operation instead of aborting the run. */
  def attempt(what: String)(body: => Unit): Unit =
    try body
    catch { case e: Exception => op(ok = false, s"$what threw: $e") }
}

trait Workload {
  def run(): Unit
}
