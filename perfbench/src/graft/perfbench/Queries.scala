package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The `queries` workload: closed loop over graft.Bench's 18 headline
  * queries (`SparkEntry.queries`, noop sink) on TPC-H-ish tables generated
  * from the seed. Each query's output is written once and checked against
  * its `SparkEntry.oracleSql` in DuckDB by run.py. */
object Queries {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "cdc_lww_latest", "cdc_final_state", "cdc_noop_suppress",
    "cdc_asof_last_click", "cdc_hourly_rollup", "cdc_changelog",
    "dedup_exact", "minhash_signature", "dedup_simhash", "doc_fingerprint",
    "text_quality", "token_count", "embed_cosine_topk", "embed_ann_lsh",
    "mm_binary_meta")

  private val vocab = Seq("the", "and", "of", "key", "row", "scan", "merge",
    "batch", "window", "spark", "table", "value", "part", "hash", "join",
    "order", "query", "line", "stream", "sort", "filter", "group", "agg",
    "column", "data", "vector", "fast", "slow", "small", "big", "customer",
    "a", "index", "lake", "commit", "offset", "delta", "fold", "split", "read")

  /** Tables in the shape of the engine's query fixtures, row counts
    * proportional to `sf` (sf 1 ≈ 6M lineitem rows). Every value is a hash
    * of (row, column); the seed permutes which row gets which values, so
    * each seed has the same value distribution (and the same query cost)
    * in a different arrangement. */
  def generate(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    def n(base: Double) = math.max(8L, (base * sf).toLong)
    // k = a seeded permutation of the row id (2^31 - 1 is prime, n below it)
    def rows(count: Long) = spark.range(count).withColumn("k",
      pmod(col("id") * lit(2147483647L) + lit(math.floorMod(seed * 7919L, count)), lit(count)))
    def hv(salt: Int, id: Column = col("k")) = xxhash64(id, lit(salt))
    def u(salt: Int, mod: Long, id: Column = col("k")) = pmod(hv(salt, id), lit(mod))
    def pick(salt: Int, xs: String*) =
      element_at(array(xs.map(lit): _*), (u(salt, xs.size) + 1).cast("int"))
    def day(salt: Int, span: Int) =
      date_add(lit("1995-01-01").cast("date"), u(salt, span).cast("int")).cast("timestamp")
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val nCust = n(150000)
    val nOrders = n(1500000)
    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")).coalesce(1))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")).coalesce(1))
    save("customer", rows(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      ((u(2, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(3, "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
        .as("c_mktsegment")))
    save("orders", rows(nOrders).select(col("id").as("o_orderkey"),
      u(1, nCust).as("o_custkey"), pick(2, "F", "O", "P").as("o_orderstatus"),
      ((u(3, 50000000) + 100) / 100.0).as("o_totalprice"),
      day(4, 2405).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority")))
    save("lineitem", rows(nOrders * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      u(1, n(200000)).as("l_partkey"), u(2, n(10000)).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(3, 50) + 1).cast("double").as("l_quantity"),
      ((u(4, 10000000) + 90000) / 100.0).as("l_extendedprice"),
      (u(5, 11) / 100.0).as("l_discount"), (u(6, 9) / 100.0).as("l_tax"),
      pick(7, "A", "N", "R").as("l_returnflag"), pick(8, "O", "F").as("l_linestatus"),
      day(9, 2500).as("l_shipdate")))
    val nEvents = n(1000000)
    save("events", rows(nEvents).select(col("id").as("event_id"),
      (lit(1704067200L) + col("id") * 259 + u(1, 200)).cast("timestamp").as("ts"),
      u(2, math.max(150L, nEvents / 66)).as("user_id"),
      pick(3, "click", "signup", "error", "view", "purchase").as("event_type"),
      (u(4, 5000) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(5, 100), lit("}")).as("props")))
    val words = array(vocab.map(lit): _*)
    def text(id: Column): Column = array_join(transform(
      sequence(lit(1), (u(1, 60, id) + 20).cast("int")),
      i => element_at(words, (pmod(xxhash64(id, i), lit(vocab.size.toLong)) + 1)
        .cast("int"))), " ")
    // one document in 20 repeats its predecessor's text (exact duplicates)
    save("documents", rows(n(50000)).select(col("id").as("doc_id"),
      when(u(2, 20) === 0 && col("k") > 0, text(col("k") - 1))
        .otherwise(text(col("k"))).as("text"),
      pick(3, "en", "en", "en", "de", "zh", "es", "fr").as("lang"),
      concat(lit("src"), u(4, 17)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // four clusters: centroid by label plus per-row noise
    save("embeddings", rows(n(50000)).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(u(1, 4), i), lit(2001)) - 1000) / 1000.0 +
          (pmod(xxhash64(col("k"), i), lit(601)) - 300) / 1000.0)
          .cast("float")).as("embedding"),
      u(1, 4).cast("int").as("label")))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = ctx.dir("queries")
    val tables = ctx.dir("queries/tables")
    val out = ctx.dir("queries/outputs")
    val (_, genS) = Stats.timed(generate(spark, ctx.args.seed,
      Sizes(ctx.args.tiny).queriesScale, tables))
    ctx.rep.named("gen_s", genS, "s", "tables, excluded from setup_s")
    ctx.rep.layer("bench.gen_s", genS, "s")
    ctx.rep.mark("tables generated")
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$base/oracle_sql.json"), headline.map(q =>
      s"${Json.str(q)}:${Json.str(oracle(q))}").mkString("{", ",", "}"))
    val qs = SparkEntry.queries

    /** (query, wall s, process CPU s) of each query that ran */
    def pass(write: Boolean, timed: Boolean): Seq[(String, Double, Double)] =
      headline.flatMap { q =>
        try {
          val (_, s, c) = Stats.timedCpu(ctx.span(s"ops.$q") {
            val df = qs(q)(spark, tables)
            if (write) df.write.parquet(s"$out/$q")
            else df.write.format("noop").mode("overwrite").save()
          })
          Some((q, s, c))
        } catch {
          case NonFatal(e) =>
            if (timed) { ctx.rep.attempted += 1; ctx.rep.failed += 1 }
            ctx.rep.check(s"query $q runs", ok = false, e.toString)
            None
        }
      }
    // set-up: a warm pass, which writes the outputs the DuckDB gate reads,
    // and opening the table set (listing + footers), three times
    val (_, warmS, warmCpuS) = Stats.timedCpu(pass(write = true, timed = false))
    val opens = (1 to 3).map { _ =>
      val (_, s, c) = Stats.timedCpu(Seq("lineitem", "orders", "customer", "nation", "region",
        "events", "documents", "embeddings").foreach(t =>
          spark.read.parquet(s"$tables/$t.parquet").count()))
      (s, c)
    }
    ctx.setup(warmS + Stats.median(opens.map(_._1)), warmCpuS + Stats.median(opens.map(_._2)))
    ctx.rep.attempted += headline.size // the DuckDB-checked outputs
    ctx.rep.mark("warm passes")

    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val totals = mutable.ArrayBuffer.empty[Double]
    // whole passes only: stop before one that would overrun the run length
    val t0 = System.nanoTime()
    while (totals.isEmpty ||
        Stats.secondsSince(t0) + totals.last <= ctx.args.seconds) {
      val times = pass(write = false, timed = true)
      ctx.rep.attempted += times.size
      times.foreach { case (q, s, c) =>
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        cpu += c }
      totals += times.map(_._2).sum
    }
    ctx.rep.retained()
    ctx.rep.mark("timed passes")
    val all = perQuery.values.flatten.toSeq
    ctx.rep.e2e("throughput_per_cpu_s", cpu.size / cpu.sum, "1/s")
    ctx.rep.e2e("cpu_p50_ms", Stats.median(cpu.toSeq) * 1000, "ms")
    ctx.rep.named("queries_per_s", all.size / totals.sum, "1/s")
    ctx.rep.named("queries_total_s", Stats.median(totals.toSeq), "s",
      s"median of ${totals.size} passes over ${headline.size} queries")
    ctx.rep.timing("query_s", all, "s")
    ctx.tracer.foreach { _ =>
      perQuery.foreach { case (q, xs) => ctx.rep.layer(s"ops.${q}_s", Stats.median(xs.toSeq), "s") }
    }
  }
}
