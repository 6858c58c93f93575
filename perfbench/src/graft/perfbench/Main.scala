package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run produced. `e2e` holds the untraced end-to-end
  * figures under their BENCHMARK.json names; `named` repeats them under
  * the workload-specific names a reader looks for (ingest_pages_per_s,
  * search_qps, ...); `gates` are (gate, passed, detail).
  */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         named: Seq[(String, Double, String)],
                         gates: Seq[(String, Boolean, String)],
                         layers: Map[String, Double] = Map.empty,
                         opsMs: Seq[Double] = Nil)

/** Settings shared by every workload of one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tiny: Boolean, traced: Boolean, tmp: String,
                     broken: Set[String]) {
  def dir(name: String): String = {
    val d = Paths.get(tmp, name); Files.createDirectories(d); d.toString
  }
  /** `--break <gate>`: the negative self-test perturbs that gate's
    * expectation so the gate must trip.
    */
  def expect[T](gate: String, want: T)(perturb: T => T): T =
    if (broken.contains(gate)) perturb(want) else want
}

trait Workload {
  def name: String
  /** Builds the inputs (and any resident state). Called `setupReps`
    * times; the last preparation is the one measured.
    */
  def setup(ctx: Ctx): Unit
  /** Runs once after the setups and before tracing starts, to bring the
    * JVM and Spark's code caches to a warm state; its time is part of
    * setup_s.
    */
  def warmup(ctx: Ctx): Unit = ()
  def setupReps(ctx: Ctx): Int = 3
  def measure(ctx: Ctx): Outcome
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  /** The highest whole percentile with at least ten samples above it,
    * as (percentile, value); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    if (n < 11) None
    else {
      val p = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
        .getOrElse(50)
      Some((p, s(math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "nca_ingest" -> (() => new NcaIngest),
    "nca_refresh" -> (() => new NcaRefresh),
    "ann_search" -> (() => new AnnSearch),
    "corpus_curate" -> (() => new CorpusCurate))

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(tmp: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.default.parallelism", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(tmp, "warehouse").toUri.toString)
      .config("spark.local.dir", Paths.get(tmp, "spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where
    * the file is absent. Steal is time the host ran something else while
    * a vCPU of this machine wanted to run.
    */
  def cpuTicks(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (t.length > 7) t(7) else 0L, t.sum)
      } finally f.close()
    }.getOrElse((0L, 0L))

  /** Live heap after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val t0 = System.nanoTime()
    val tmp = need("tmp")
    val spark = session(tmp)
    spark.range(1000).selectExpr("sum(id)").collect() // first job: codegen + scheduler warm-up
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = need("workload") match {
      case "selftest" => SelfTest.run(spark, tmp)
      case w => runOne(spark, w, need("seed").toLong, need("seconds").toDouble,
        opts.getOrElse("trace", "0") == "1", opts.getOrElse("size", "full") == "tiny",
        opts.get("break").toSet, tmp, opts.get("results"), sessionS)
    }
    spark.stop()
    sys.exit(code)
  }

  /** Runs one workload and prints its report; the last stdout line is
    * the JSON result. Returns the process exit code.
    */
  def runOne(spark: SparkSession, workload: String, seed: Long, seconds: Double,
             traced: Boolean, tiny: Boolean, broken: Set[String], tmp: String,
             resultsDir: Option[String], sessionS: Double): Int = {
    val w = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))()
    val ctx = Ctx(spark, seed, seconds, tiny, traced, Paths.get(tmp, workload).toString, broken)
    Counters.reset()
    val setups = (1 to w.setupReps(ctx)).map { _ =>
      val t = System.nanoTime(); w.setup(ctx); (System.nanoTime() - t) / 1e9
    }
    val warmS = { val t = System.nanoTime(); w.warmup(ctx); (System.nanoTime() - t) / 1e9 }
    val counters = if (traced) {
      Trace.enable(spark.sparkContext)
      val c = new SparkCounters(spark.sparkContext)
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val (steal0, total0) = cpuTicks()
    val measured = w.measure(ctx)
    val (steal1, total1) = cpuTicks()
    val steal = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val out = measured.copy(layers = measured.layers + ("host.steal_pct" -> steal))
    val heap = retainedHeapMb()
    val e2e = out.e2e ++ Map("setup_s" -> (sessionS + warmS + Stats.median(setups)),
      "retained_heap_mb" -> heap)
    val correct = out.gates.forall(_._2)

    println(s"[perfbench] workload=$workload seed=$seed traced=$traced size=${if (tiny) "tiny" else "full"}")
    println(f"[perfbench] session_start_s=$sessionS%.3f warmup_s=$warmS%.3f setup_reps_s=${setups.map(s => f"$s%.3f").mkString(",")}")
    println(f"[perfbench] host_steal_pct=$steal%.1f (share of CPU time the host took from this machine while measuring)")
    println(s"[perfbench] op_ms=${out.opsMs.map(m => f"$m%.0f").mkString(",")}")
    out.named.foreach { case (n, v, u) => println(s"[metric] $n = ${fmt(v)} $u") }
    println(s"[metric] retained_heap_mb = ${fmt(heap)} MB")
    println(s"[metric] failed_frac = ${fmt(out.failed.toDouble / math.max(out.attempted, 1))} ratio")
    out.gates.foreach { case (g, ok, d) => println(s"[gate] ${if (ok) "PASS" else "FAIL"} $g: $d") }
    println(s"[verdict] ${if (correct) "CORRECT" else "INCORRECT"}")

    val metrics: Map[String, (Double, String)] = counters match {
      case None =>
        val units = Map("setup_s" -> "s", "items_per_s" -> "1/s", "op_ms_p50" -> "ms",
          "retained_heap_mb" -> "MB")
        resultsDir.foreach { d =>
          Files.createDirectories(Paths.get(d))
          Files.write(Paths.get(d, s"$workload-untraced.txt"),
            fmt(out.e2e("items_per_s")).getBytes("UTF-8"))
        }
        units.map { case (k, u) => k -> (e2e(k), u) }
      case Some(c) => Layers.report(workload, out, c.snapshot(), e2e, resultsDir)
    }
    val json = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $json}""")
    if (correct) 0 else 1
  }
}
