package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point: runs one workload against the engine's public API in
  * this JVM and prints one `PERFBENCH_RESULT {json}` line for run.py.
  *
  * Untraced runs (`--trace 0`) report end-to-end metrics only; a traced run
  * (`--trace 1`) registers [[Tracer]]'s listeners, records spans around
  * every call into the engine and reports the per-layer metrics. */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, tiny: Boolean, work: String,
      traceDir: String, corrupt: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, m.get("scale").contains("tiny"),
      need("work"), need("trace-dir"), argv.contains("--corrupt"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the same session shape graft.Bench gives the engine: driver-side
      // listing of partitioned feed dirs, 2 MB splits, zstd base files
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores, a.work)
    val startupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val startupCpuS = Stats.cpuMs / 1000
    val steal = new StealWatch
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rep = new Report(a.workload)
    val ctx = Ctx(spark, a, tracer, rep, startupS, startupCpuS)
    a.workload match {
      case "ingest" => FeedWorkloads.ingest(ctx)
      case "queries" => Queries.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rep.e2e("heap_retained_mb", rep.retainedPeakMb, "MB")
    rep.named("rss_peak_mb", rssPeakMb(), "MB", "VmHWM; the 3 GB heap is pre-touched")
    rep.named("host_steal_frac", steal.frac, "ratio", "CPU time taken by other machines")
    tracer.foreach { t =>
      t.finish()
      t.writeSpans(s"${a.traceDir}/${a.workload}-seed${a.seed}.jsonl")
      rep.layer("bench.trace_overhead_frac", t.overheadFrac, "ratio")
      jvmLayer(rep)
      rep.fillLayerDefaults()
    }
    rep.print()
    // a traced ingest run ends on its own local[1] session
    SparkSession.getDefaultSession.foreach(_.stop())
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def jvmLayer(rep: Report): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    rep.layer("jvm.gc_s", gcMs / 1000.0, "s")
    rep.layer("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB")
  }
}

/** Share of this host's CPU time that the hypervisor gave to other
  * machines (`steal` in /proc/stat) since the watch was made: a run with a
  * high share ran on a contended host. */
final class StealWatch {
  private def read(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }
  private val (steal0, total0) = read()
  def frac: Double = {
    val (s, t) = read()
    if (t > total0) (s - steal0).toDouble / (t - total0) else 0.0
  }
}

/** Everything a workload needs. */
final case class Ctx(spark: SparkSession, args: PerfBench.Args,
    tracer: Option[Tracer], rep: Report, startupS: Double, startupCpuS: Double) {
  /** Set-up cost: JVM start to session ready plus the workload's own
    * set-up. `setup_s` is its process CPU time, which steal on a contended
    * host does not inflate as it does wall time; the wall time is printed
    * beside it. */
  def setup(wallS: Double, cpuS: Double): Unit = {
    rep.e2e("setup_s", startupCpuS + cpuS, "s")
    rep.named("setup_wall_s", startupS + wallS, "s")
  }
  /** Span around one scenario of a workload. */
  def phase[T](name: String)(body: => T): T = span(s"phase.$name")(body)
  /** Span around a call into the engine (a no-op when untraced). */
  def span[T](name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
  def dir(name: String): String = {
    val d = new File(args.work, name)
    d.mkdirs()
    d.getPath
  }
}

/** Collected metrics and correctness checks of one run. */
final class Report(workload: String) {
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)

  /** Heap the process still holds after a full collection, taken at the
    * end of each measured phase; the largest is `heap_retained_mb`. */
  var retainedPeakMb = 0.0
  def retained(): Unit = {
    // the second collection also takes what Spark's cleaner thread released
    // after the first one
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
    retainedPeakMb = math.max(retainedPeakMb, used)
  }

  /** Progress line on stderr: seconds since JVM start. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%7.1fs $what%s")
  def layer(name: String, v: Double, unit: String): Unit = layerM(name) = (v, unit)

  /** A workload-specific named metric (see perfbench/README.md), printed on
    * its own line. */
  def named(name: String, v: Double, unit: String, note: String = ""): Unit =
    println(f"[perfbench] $workload%s $name%s = $v%.6g $unit%s" +
      (if (note.nonEmpty) s"  ($note)" else ""))

  /** Median plus the highest percentile with ≥ 10 samples beyond it. */
  def timing(name: String, samples: Seq[Double], unit: String): Unit = {
    named(s"${name}_p50", Stats.median(samples), unit, s"n=${samples.size}")
    Stats.tail(samples) match {
      case Some((label, v)) =>
        named(s"${name}_$label", v, unit, s"n=${samples.size}")
      case None =>
        println(s"[perfbench] $workload ${name}: no percentile above p50 " +
          s"has 10 samples beyond it (n=${samples.size})")
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok))
    if (!ok) println(s"[perfbench] check failed: $name ${detail}")
    ok
  }

  def fillLayerDefaults(): Unit =
    Tracer.layerNames.foreach { case (n, u) =>
      if (!layerM.contains(n)) layerM(n) = (0.0, u) }

  def print(): Unit = {
    if (layerM.nonEmpty) layerM.foreach { case (k, (v, u)) =>
      println(f"[perfbench] $workload%s layer $k%s = $v%.6g $u%s") }
    named("failed_frac", if (attempted == 0) 0.0 else failed.toDouble / attempted,
      "ratio", s"$failed of $attempted")
    def obj(m: collection.Map[String, (Double, String)]) = m.map {
      case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok) =>
      s"""{"name":${Json.str(n)},"ok":$ok}""" }.mkString("[", ",", "]")
    val metrics = obj(e2eM ++ layerM)
    println(s"""PERFBENCH_RESULT {"workload":"$workload","attempted":$attempted,""" +
      s""""failed":$failed,"checks":$cs,"metrics":$metrics}""")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p90/p95/p99/p99.9 that leaves ≥ 10 samples above it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p999", 0.999), ("p99", 0.99), ("p95", 0.95), ("p90", 0.90))
      .find { case (_, q) => xs.size * (1 - q) >= 10 - 1e-9 }
      .map { case (l, q) => (l, quantile(xs, q)) }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, all threads, in ms. Time the host
    * gave to other machines (steal) is not counted, so it grows far less
    * than wall time when the host is contended. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** `body`'s wall seconds and process CPU seconds. */
  def timedCpu[T](body: => T): (T, Double, Double) = {
    val c0 = cpuMs
    val (r, s) = timed(body)
    (r, s, (cpuMs - c0) / 1000)
  }
}
