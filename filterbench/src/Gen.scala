package filterbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every column is a pure function of
  * (seed, row id) through `xxhash64`, so the same seed writes the same
  * rows on any geometry. Schemas follow the fixture tables the program
  * reads (`graft.Tables`): TPC-H-ish star schema plus the `events`
  * message table, `documents` and `embeddings`. */
object Gen {

  private def h(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, m). */
  private def u(seed: Long, salt: String, m: Long, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(m))

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** `n` `events` rows with ids 0 until n: `ts` advances
    * ~1 s per message from 2024-01-01 (so a file of a few thousand rows
    * spans a handful of 5-minute windows), `user_id` joins the
    * `customer` key domain. `richProps` switches the properties bag from
    * the fixture shape `{"k": n}` to an open bag of six keys with
    * numeric strings, missing keys and JSON nulls. `slices` > 0 fixes
    * the number of equal, contiguous id ranges (Spark partitions). */
  def events(s: SparkSession, seed: Long, n: Long,
      customers: Long, richProps: Boolean, slices: Int = 0): DataFrame = {
    val id = col("id")
    val k = u(seed, "k", 100, id)
    val props =
      if (!richProps) concat(lit("{\"k\": "), k, lit("}"))
      else {
        // each key is present with its own probability; region and
        // flag may be an explicit JSON null
        def field(name: String, p: Long, v: Column): Column =
          when(u(seed, "has_" + name, 100, id) < p,
            concat(lit("\"" + name + "\": "), v))
        val region = when(u(seed, "rnull", 10, id) === 0, lit("null"))
          .otherwise(concat(lit("\""), pick(Seq("eu", "us", "ap"), u(seed, "region", 3, id)), lit("\"")))
        val flag = when(u(seed, "fnull", 10, id) === 0, lit("null"))
          .otherwise(when(u(seed, "flag", 2, id) === 0, lit("true")).otherwise(lit("false")))
        val parts = Seq(
          field("k", 95, k),
          field("region", 85, region),
          field("tier", 80, concat(lit("\""), u(seed, "tier", 5, id) + 1, lit("\""))),
          field("score", 75, concat(lit("\""), format_number(u(seed, "score", 10000, id) / 100.0, 1), lit("\""))),
          field("src", 90, concat(lit("\"app"), u(seed, "src", 10, id), lit("\""))),
          field("flag", 70, flag))
        concat(lit("{"), concat_ws(", ", parts: _*), lit("}"))
      }
    (if (slices > 0) s.range(0, n, 1, slices) else s.range(n))
      .select(
        id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + id * 1000000L +
          u(seed, "jit", 1000000, id)).as("ts"),
        u(seed, "user", customers, id).as("user_id"),
        pick(eventTypes, u(seed, "type", 5, id)).as("event_type"),
        (u(seed, "value", 50000, id) / 100.0).as("value"),
        props.as("props"))
  }

  def customer(s: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    s.range(n).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"),
      u(seed, "cnat", 25, id).cast("int").as("c_nationkey"),
      ((u(seed, "cbal", 1100000, id) - 100000) / 100.0).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        u(seed, "cseg", 5, id)).as("c_mktsegment"))
  }

  private val vocab = Seq("join", "filter", "window", "stream", "batch", "sort",
    "merge", "hash", "scan", "spark", "topic", "broker", "cursor", "ledger",
    "entry", "selector", "message", "consumer", "producer", "partition",
    "offset", "commit", "state", "watermark", "trigger", "shuffle", "plan",
    "task", "stage", "query")

  private val day = 86400000000L
  private val d1995 = 788918400000000L // 1995-01-01 UTC in µs

  /** o_orderdate as a function of the order key, shared by `orders` and
    * `lineitem` so ship dates follow their order. */
  private def orderDateUs(seed: Long, okey: Column): Column =
    lit(d1995) + u(seed, "odate", 2404, okey) * day

  /** Writes the star schema plus `events`, `documents` and `embeddings`
    * under `dir` as `<table>.parquet`; `orders` rows = `nOrders`,
    * lineitem = 4 lines per order. */
  def registryTables(s: SparkSession, seed: Long, dir: String, nOrders: Long): Unit = {
    val id = col("id")
    val nCust = nOrders / 10
    val nPart = nOrders / 8
    val nSupp = math.max(10L, nOrders / 150)
    // tables are independent: write them from a few driver threads
    val pending = mutable.ArrayBuffer[Future[Unit]]()
    implicit val pool: ExecutionContextExecutorService = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3))
    def write(name: String, df: DataFrame): Unit = pending += Future(
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))

    write("region", s.range(5).select(id.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name")))
    write("nation", s.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    write("supplier", s.range(nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id).as("s_name"),
      u(seed, "snat", 25, id).cast("int").as("s_nationkey"),
      ((u(seed, "sbal", 1100000, id) - 100000) / 100.0).as("s_acctbal")))
    write("customer", customer(s, seed, nCust))
    write("part", s.range(nPart).select(id.as("p_partkey"),
      concat(lit("part "), pick(vocab, u(seed, "pn", 30, id))).as("p_name"),
      concat(lit("Brand#"), u(seed, "pb", 5, id) + 1, u(seed, "pb2", 5, id) + 1).as("p_brand"),
      pick(Seq("STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BRUSHED STEEL",
        "LARGE POLISHED BRASS", "ECONOMY BURNISHED NICKEL"), u(seed, "pt", 5, id)).as("p_type"),
      (u(seed, "ps", 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 20000) / 10.0).as("p_retailprice")))
    write("orders", s.range(nOrders).select(id.as("o_orderkey"),
      u(seed, "ocust", nCust, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, "ost", 3, id)).as("o_orderstatus"),
      ((u(seed, "otp", 49800000, id) + 100000) / 100.0).as("o_totalprice"),
      timestamp_micros(orderDateUs(seed, id)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, "opri", 5, id)).as("o_orderpriority")))
    val okey = id.divide(4).cast("long")
    val qty = (u(seed, "lq", 50, id) + 1).cast("double")
    write("lineitem", s.range(nOrders * 4).select(okey.as("l_orderkey"),
      u(seed, "lp", nPart, id).as("l_partkey"),
      u(seed, "ls", nSupp, id).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (lit(900.0) + u(seed, "lpr", 20000, id) / 10.0)).as("l_extendedprice"),
      (u(seed, "ld", 11, id) / 100.0).as("l_discount"),
      (u(seed, "lt", 9, id) / 100.0).as("l_tax"),
      pick(Seq("R", "A", "N"), u(seed, "lrf", 3, id)).as("l_returnflag"),
      pick(Seq("O", "F"), u(seed, "lls", 2, id)).as("l_linestatus"),
      timestamp_micros(orderDateUs(seed, okey) + (u(seed, "lsd", 121, id) + 1) * day)
        .as("l_shipdate")))
    write("events", events(s, seed, nOrders * 2 / 3, nCust, richProps = false))
    // every 7th document repeats its predecessor's words (planted
    // duplicates for the dedup keys)
    val base = when(id % 7 === 6, id - 1).otherwise(id)
    val nWords = u(seed, "nw", 80, base) + 8
    val words = transform(sequence(lit(0L), nWords - 1),
      i => pick(vocab, u(seed, "w", 30, base, i)))
    write("documents", s.range(nOrders / 30).select(id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      pick(Seq("de", "en", "es", "fr", "zh"), u(seed, "lang", 5, id)).as("lang"),
      concat(lit("src"), u(seed, "src", 20, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val label = id % 10
    write("embeddings", s.range(nOrders / 30).select(id.as("vec_id"),
      transform(sequence(lit(0L), lit(63L)), i =>
        ((u(seed, "ctr", 2000, label, i) - 1000) / 1000.0 +
          (u(seed, "noise", 200, id, i) - 100) / 1000.0).cast("float")).as("embedding"),
      label.cast("int").as("label")))
    try pending.foreach(Await.result(_, Duration.Inf))
    finally pool.shutdown()
  }

  /** Writes `files` event files of `rows` rows each, in one Spark job,
    * and returns their paths in id order (`f00000.parquet`, …) under
    * `dir`. Rows of file i are ids [i*rows, (i+1)*rows): one range
    * slice per file, so each task writes exactly one file. */
  def eventFiles(s: SparkSession, seed: Long, dir: String, files: Int, rows: Int,
      customers: Long, richProps: Boolean): IndexedSeq[Path] = {
    val tmp = Paths.get(dir, "_parts")
    events(s, seed, files.toLong * rows, customers, richProps, slices = files)
      .write.parquet(tmp.toString)
    val parts = {
      val st = Files.list(tmp)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toVector.sorted
      finally st.close()
    }
    require(parts.size == files, s"expected $files part files, found ${parts.size}")
    parts.zipWithIndex.map { case (n, i) =>
      val dst = Paths.get(dir, f"f$i%05d.parquet")
      Files.move(tmp.resolve(n), dst, StandardCopyOption.ATOMIC_MOVE)
      dst
    }
  }
}
