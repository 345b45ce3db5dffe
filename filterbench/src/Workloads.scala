package filterbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.selector.{Expr, Ident, Selector}
import graft.streaming.{MessageSource, Pipeline}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Selector front-end cost and shape, summed over a workload's
  * selectors: parse and compile time through `graft.selector`, and the
  * properties-bag references of the parsed ASTs. */
object Selectors {
  /** Identifiers the `events` resolver maps to columns or headers;
    * every other identifier is a `props` lookup. */
  private val columns = Set("event_id", "user_id", "value", "ts", "event_type", "props")

  private def idents(e: Expr): Seq[String] = e match {
    case Ident(n) => Seq(n)
    case p: Product => p.productIterator.toSeq.flatMap {
      case x: Expr => idents(x)
      case _ => Nil
    }
  }

  def measure(tr: Tracer, rec: Record, sels: Seq[(String, String)]): Seq[(String, Column)] = {
    var parseNs, compileNs = 0L
    val refs = mutable.ArrayBuffer[String]()
    val compiled = sels.map { case (name, sel) =>
      val (ast, p) = tr.timed("Selector.parse", name)(Selector.parse(sel))
      val (c, k) = tr.timed("Selector.compileExpr", name)(Selector.compileExpr(ast, Selector.events))
      parseNs += p
      compileNs += k
      refs ++= idents(ast).filterNot(n => columns(n) || n.startsWith("JMS"))
      name -> c
    }
    rec("selectors") = Map("count" -> sels.size, "parse_ms" -> parseNs / 1e6,
      "compile_ms" -> compileNs / 1e6, "props_refs" -> refs.size,
      "props_keys" -> refs.map(_.stripPrefix("props.")).distinct.size)
    compiled
  }
}

object Wait {
  /** Rows the query has consumed so far, summed over its progress events. */
  def rowsDone(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Polls until `q` has consumed `rows` rows or `deadlineMs` passes. */
  def forRows(q: StreamingQuery, rows: Long, deadlineMs: Long): Boolean = {
    while (rowsDone(q) < rows && System.currentTimeMillis() < deadlineMs) {
      q.exception.foreach(e => throw e)
      Thread.sleep(2)
    }
    rowsDone(q) >= rows
  }

  def sleepUntil(ms: Long): Unit = {
    var d = ms - System.currentTimeMillis()
    while (d > 0) { Thread.sleep(math.min(d, 50)); d = ms - System.currentTimeMillis() }
  }
}

/** filter_live — open loop. A publisher thread atomically renames
  * pre-staged event files into a watched directory every `periodMs`;
  * `MessageSource.fileStream` → `Pipeline.filterPipeline` (selector
  * route → broadcast customer enrich → 5-minute window aggregate,
  * update mode) runs on the default trigger into a foreachBatch sink. */
final class FilterLive(spark: SparkSession, tr: Tracer, a: Main.Args, rec: Record) extends Workload {
  val rowsPerFile = 2000
  val warmFiles = 8
  val periodMs = 1250L
  val files: Int = math.max(8, (a.seconds * 1000L / periodMs).toInt)
  val customers = 1500L
  /** A file not processed this long after it was due counts as failed. */
  val deadlineMs = 5000L

  def run(): Unit = {
    val work = a.work
    val stage = s"$work/live_stage"
    val in = Paths.get(s"$work/live_in")
    Files.createDirectories(in)
    val (staged, stagingNs) = tr.timed("stage", "inputs") {
      Gen.customer(spark, a.seed, customers).write.parquet(s"$work/customer.parquet")
      Gen.eventFiles(spark, a.seed, stage, warmFiles + files, rowsPerFile, customers, richProps = false)
    }
    rec("staging_ms") = stagingNs / 1e6
    def publish(i: Int): Unit =
      Files.move(staged(i), in.resolve(staged(i).getFileName), StandardCopyOption.ATOMIC_MOVE)

    Selectors.measure(tr, rec, Seq("accept" -> Pipeline.acceptSelector,
      "reschedule" -> Pipeline.rescheduleSelector))
    // one file is present before start so the source reads its schema
    publish(0)
    val customer = graft.Tables.customer(spark, work)
    val events = tr.span("MessageSource.fileStream", "live")(MessageSource.fileStream(spark, in.toString))
    val plan = tr.span("Pipeline.filterPipeline", "live")(Pipeline.filterPipeline(events, customer))
    val sink = new ConcurrentHashMap[(Long, String), (Long, Double)]()
    val q = plan.writeStream.outputMode("update")
      .option("checkpointLocation", s"$work/live_ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => sink.put((r.getLong(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      }
      .start()
    // fixed warm-up: the warm files one at a time, each waited for
    for (i <- 0 until warmFiles) {
      if (i > 0) publish(i)
      require(Wait.forRows(q, (i + 1L) * rowsPerFile, System.currentTimeMillis() + 60000),
        s"warm-up file $i not processed")
    }

    val t0 = System.currentTimeMillis() + 100
    val due = Array.tabulate(files)(i => t0 + i * periodMs)
    val pub = new Array[Long](files)
    val publisher = new Thread(() => {
      for (i <- 0 until files) {
        Wait.sleepUntil(due(i))
        publish(warmFiles + i)
        pub(i) = System.currentTimeMillis()
      }
    }, "filterbench-publisher")
    publisher.setDaemon(true)
    rec.markStart(t0)
    publisher.start()
    val total = (warmFiles + files).toLong * rowsPerFile
    Wait.forRows(q, total, due.last + deadlineMs)
    rec.markEnd()
    publisher.join()
    val progress = q.recentProgress.toSeq
    q.stop()
    q.exception.foreach(e => rec.op(ok = false, s"stream failed: $e"))

    val slices = 4
    rec("windows") = (0 until slices).map { k =>
      val lo = due(k * files / slices)
      val hi = if (k == slices - 1) rec.fields("measure_end_ms") else due((k + 1) * files / slices)
      Map("start_ms" -> lo, "end_ms" -> hi)
    }
    rec("live") = Map("period_ms" -> periodMs, "rows_per_file" -> rowsPerFile,
      "warm_rows" -> warmFiles.toLong * rowsPerFile, "deadline_ms" -> deadlineMs,
      "due_ms" -> due.toSeq, "pub_ms" -> pub.toSeq)
    rec("progress") = progress.map(p => Json.Raw(p.json))

    // output check: the streamed aggregate equals the batch pipeline
    // over exactly the files that were published
    rec.attempt("batch check") {
      val batch = Pipeline.filterPipeline(
        MessageSource.normalize(spark.read.parquet(in.toString)), customer).collect()
      val want = batch.map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val got = sink.asScala.toMap
      rec.op(got == want,
        s"streamed aggregate differs from batch: ${got.size} vs ${want.size} groups, " +
          s"${(got.toSet diff want.toSet).size} differing")
    }
  }
}

/** fanout_drain — closed loop. A seeded backlog with an open `props`
  * bag is drained with `Trigger.AvailableNow` through a twelve-way
  * subscription fan-out (array of `when` → `filter` → `explode`, the
  * `Filters.subscriptionFanOut` shape) into a noop sink; each drain
  * starts from a fresh checkpoint. */
final class FanoutDrain(spark: SparkSession, tr: Tracer, a: Main.Args, rec: Record) extends Workload {
  val rowsPerFile = 4000
  val files = 10
  val maxFilesPerTrigger = 1
  /** Fixed drain count: about `seconds` of drains at ~5 s a drain. */
  val drains: Int = math.max(3, math.round(a.seconds / 5.0).toInt)

  val subscriptions = Seq(
    "vip"        -> "props.k >= 90 AND event_type <> 'error'",
    "eu_tier"    -> "props.region = 'eu' AND props.tier >= 3",
    "scored"     -> "props.score > 50.5 OR props.k < 5",
    "app1"       -> "props.src LIKE 'app1%' AND value > 100",
    "no_region"  -> "props.region IS NULL AND event_type = 'click'",
    "low_tier"   -> "props.tier IN ('1', '2') AND props.k BETWEEN 20 AND 40",
    "alerts"     -> "event_type = 'error' AND value > 100",
    "bigbuys"    -> "event_type = 'purchase' AND value BETWEEN 200 AND 400",
    "signups_hi" -> "value * 2 > 500 OR event_type LIKE 'sign%'",
    "flagged"    -> "props.flag = 'true' AND props.score < 10",
    "not_us"     -> "NOT (props.region = 'us') AND props.k > 50",
    "top_tier"   -> "props.score IS NOT NULL AND props.tier = '5'")

  private def fanOut(ev: DataFrame, compiled: Seq[(String, Column)]): DataFrame =
    ev.select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"),
      explode(filter(array(compiled.map { case (n, c) =>
        when(c, lit(n)).otherwise(lit(null).cast("string")) }: _*),
        x => x.isNotNull)).as("subscription"))

  def run(): Unit = {
    val backlog = s"${a.work}/backlog"
    val (_, stagingNs) = tr.timed("stage", "inputs") {
      Gen.eventFiles(spark, a.seed, backlog, files, rowsPerFile, 1500, richProps = true)
    }
    rec("staging_ms") = stagingNs / 1e6
    val compiled = Selectors.measure(tr, rec, subscriptions)
    val names = subscriptions.map(_._1)

    /** One drain; returns its start and end (epoch ms) and its progress events. */
    def drain(i: Int): (Long, Long, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      tr.span("drain", s"drain:$i") {
        val s0 = System.currentTimeMillis()
        val src = tr.span("MessageSource.fileStream", s"drain:$i")(MessageSource.fileStream(
          spark, backlog, Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString)))
        val obs = fanOut(src, compiled).observe("fanout",
          count(lit(1)).as("rows"), names.map(n => sum(when(col("subscription") === n, 1).otherwise(0)).as(n)): _*)
        val q = obs.writeStream.format("noop").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"${a.work}/fanout_ckpt_$i").start()
        q.awaitTermination()
        (s0, System.currentTimeMillis(), q.recentProgress.toSeq)
      }

    // fixed warm-up: two full drains
    drain(-1)
    drain(0)
    rec.markStart()
    val runs = (1 to drains).map(drain)
    rec.markEnd()
    rec("windows") = runs.map { case (s0, s1, _) => Map("start_ms" -> s0, "end_ms" -> s1) }
    rec("progress") = runs.flatMap(_._3.map(p => Json.Raw(p.json)))
    rec("drain") = Map("files" -> files, "rows_per_file" -> rowsPerFile,
      "max_files_per_trigger" -> maxFilesPerTrigger, "subscriptions" -> names.size,
      "trigger_ms" -> runs.map(_._3.map(_.durationMs.get("triggerExecution").longValue)))

    // output check: per-subscription counts of each drain equal the
    // batch fan-out over the same backlog
    rec.attempt("batch fan-out") {
      val want = fanOut(MessageSource.normalize(spark.read.parquet(backlog)), compiled)
        .groupBy("subscription").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val wantRows = want.values.sum
      runs.zipWithIndex.foreach { case ((_, _, ps), i) =>
        val got = ps.flatMap(p => Option(p.observedMetrics.get("fanout"))).map { r: Row =>
          (r.getLong(0), names.indices.map(j => r.getLong(j + 1)))
        }
        val rows = got.map(_._1).sum
        val per = names.indices.map(j => got.map(_._2(j)).sum)
        val ok = rows == wantRows && names.zip(per).forall { case (n, c) => want(n) == c } &&
          ps.map(_.numInputRows).sum == files.toLong * rowsPerFile
        rec.op(ok, s"drain ${i + 1}: fan-out counts ${names.zip(per)} rows $rows, batch $want")
      }
    }
  }
}

/** registry_batch — closed loop, one query at a time. A fixed, ordered
  * list of `SparkEntry.queries` keys runs in repeated passes; each key
  * is built, planned and fully materialised through the noop sink. */
final class RegistryBatch(spark: SparkSession, tr: Tracer, a: Main.Args, rec: Record) extends Workload {
  /** The key list. Keys whose builders write to fixed paths outside the
    * working directory (`sink_upsert`, `stream_redelivery`) are left out. */
  val keys = Seq("sql_tpch_q1", "sql_tpch_q21", "win_ntile_pct", "fn_trig",
    "ts_anomaly", "sample_kcenter", "filter_subscriptions", "stream_batch_index_ack")
  /** Tables are generated from this fixed seed, not the workload seed,
    * so each key's output can be pinned in `expected_registry.json`. */
  val dataSeed = 42L
  val orders = 6000L
  /** Fixed pass count: about `seconds` of passes at ~5 s a pass. */
  val passes: Int = math.max(3, math.round(a.seconds / 5.0).toInt)

  private def quoted(c: String) = col("`" + c.replace("`", "``") + "`")

  def run(): Unit = {
    val dir = s"${a.work}/tables"
    val (_, stagingNs) = tr.timed("stage", "inputs")(Gen.registryTables(spark, dataSeed, dir, orders))
    rec("staging_ms") = stagingNs / 1e6
    def pass(p: Int): Seq[Map[String, Any]] = keys.map { k =>
      val req = s"$k:$p"
      try {
        val (df, buildNs) = tr.timed("SparkEntry.queries", req)(SparkEntry.queries(k)(spark, dir))
        val obs = Observation(s"check_$p")
        val checked = df.observe(obs, count(lit(1)).as("rows"),
          sum(xxhash64(df.columns.toSeq.map(quoted): _*).cast("decimal(38,0)")).as("hash"))
        val (_, planNs) = tr.timed("queryExecution.executedPlan", req)(checked.queryExecution.executedPlan)
        val (_, execNs) = tr.timed("write.noop", req)(checked.write.format("noop").mode("overwrite").save())
        val m = obs.get
        Map("key" -> k, "build_ms" -> buildNs / 1e6, "plan_ms" -> planNs / 1e6,
          "exec_ms" -> execNs / 1e6, "rows" -> m("rows").toString.toLong,
          "hash" -> String.valueOf(m("hash")))
      } catch {
        case e: Exception => Map("key" -> k, "error" -> e.toString)
      }
    }

    // fixed warm-up: two full passes; the second gives the reference
    // outputs the measured passes must repeat
    pass(-1)
    val warm = pass(0)
    rec.markStart()
    val windows = mutable.ArrayBuffer[Map[String, Any]]()
    val runs = (1 to passes).map { p =>
      val s0 = System.currentTimeMillis()
      val r = tr.span("pass", s"pass:$p")(pass(p))
      windows += Map("start_ms" -> s0, "end_ms" -> System.currentTimeMillis())
      r
    }
    rec.markEnd()
    rec("windows") = windows.toSeq
    rec("registry") = Map("keys" -> keys, "orders" -> orders, "warm" -> warm, "passes" -> runs)

    // output check: every measured key run repeats the warm-up output
    // (the recorded expected values are checked by run.py)
    val ref = warm.map(m => m("key") -> m).toMap
    for ((r, p) <- runs.zipWithIndex; m <- r) {
      val k = m("key")
      val same = !m.contains("error") && !ref(k).contains("error") &&
        m("rows") == ref(k)("rows") && m("hash") == ref(k)("hash")
      rec.op(same, s"pass ${p + 1} $k: ${m.getOrElse("error", s"rows ${m("rows")} hash ${m("hash")}")}" +
        s" vs warm-up ${ref(k).getOrElse("error", s"rows ${ref(k)("rows")} hash ${ref(k)("hash")}")}")
    }
  }
}
