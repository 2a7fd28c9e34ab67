package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one JVM.
  *
  *   --workload fithic_cli|query_suite
  *   --seed n --seconds s --trace 0|1
  *   --tables <parquet dir> --work <scratch dir> --cores N
  *   --reference <reference.tsv> [--record <out.tsv>]
  *
  * setup_s runs from before the Spark session starts to the end of the
  * workload's set-up (fixtures and one warm-up operation), so it holds
  * session start, JIT warm-up and whatever the engine builds once per
  * JVM (the standing Hi-C tables). With --trace 0 the window is measured with
  * tracing off and the end-to-end metrics are printed. With --trace 1
  * the window runs twice, untraced then traced: the traced window gives
  * the per-layer metrics and the difference of the two is the tracing
  * overhead. The last stdout line is the result object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tables: String, work: String, cores: Int,
      reference: String, record: Option[String])

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "expected --flag value pairs")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("tables"), req("work"), req("cores").toInt,
      req("reference"), m.get("record"))
  }

  /** Operations a window runs: as many as take `seconds` at the
    * workload's nominal operation time. A fixed count, not a deadline,
    * so a slow stretch of the host does not also change how warm the
    * measured operations are.
    */
  def opsFor(seconds: Double, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)

  /** What a workload hands back to the result line. */
  final case class Outcome(attempted: Long, failed: Long, correct: Boolean)

  /** Shared state of one benchmark process. */
  final class Ctx(val a: Args, val spark: SparkSession) {
    val ref: Reference = Reference.load(a.reference)
    val e2e = new Out.Metrics
    val layer = new Out.Metrics
    val heap = new HeapWatch
    var spans = new Spans(false)
    var jobs: Option[JobLog] = None
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]

    def work(sub: String): String = {
      val p = Paths.get(a.work, sub)
      Files.createDirectories(p)
      p.toString
    }

    /** MB held by persisted RDDs right now. */
    def cachedMb(): Double =
      spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6

    /** Turns tracing on: a fresh job listener and span recorder. */
    def startTrace(): Unit = {
      val l = new JobLog
      spark.sparkContext.addSparkListener(l)
      jobs = Some(l)
      spans = new Spans(true)
    }

    def settle(): Unit =
      org.apache.spark.BusAccess.drain(spark.sparkContext)

    def note(s: String): Unit = {
      notes += s
      System.err.println("[perfbench] " + s)
    }
  }

  /** Peak old-generation occupancy right after a forced full collection,
    * sampled at operation boundaries (after set-up and after each
    * call or pass), so it measures what operations leave live.
    */
  final class HeapWatch {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    private var peak = 0L

    def collect(): Unit = {
      System.gc()
      val used = pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
      peak = math.max(peak, used)
    }

    def peakMb: Double = peak / 1e6
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unknown" }

  /** The host's aggregate CPU jiffies (/proc/stat), empty when unreadable. */
  private def cpuJiffies(): Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .split("\\s+").drop(1).map(_.toLong).toSeq
    catch { case _: Throwable => Nil }

  /** Share of CPU time stolen by the hypervisor between two readings. */
  private def stealPct(a: Seq[Long], b: Seq[Long]): String =
    if (a.length < 8 || b.length < 8) "unknown"
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      f"${100.0 * d(7) / math.max(1L, d.sum)}%.1f"
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadAvg()
    val cpu0 = cpuJiffies()
    val t0 = System.nanoTime()
    // the traced CLI run counts binom_sf evaluations (BinomCount)
    val countBinom = a.trace && a.workload == "fithic_cli"
    val builder = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(a.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "warehouse").toString)
    if (countBinom)
      builder.config("spark.sql.extensions", classOf[BinomCountExtension].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (countBinom)
      BinomCount.evals = spark.sparkContext.longAccumulator("binom_sf evals")
    val ctx = new Ctx(a, spark)
    val w: Workload = a.workload match {
      case "fithic_cli" => new FithicCli(ctx)
      case "query_suite" => new QuerySuite(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val setupS = Out.sec(t0, System.nanoTime())
    ctx.heap.collect()
    ctx.note(f"set-up $setupS%.3f s")
    val untraced = w.measure()
    ctx.note(s"operation times (s): ${untraced.opTimes.map(s => f"$s%.3f").mkString(" ")}")
    ctx.e2e.put("setup_s", setupS, "s")
    ctx.e2e.put("heap_live_peak_mb", ctx.heap.peakMb, "MB")
    ctx.e2e.put("op_mean_s", untraced.opTimes.sum / untraced.opTimes.size, "s")
    ctx.e2e.put("op_p50_s", Out.hdQuantile(untraced.opTimes, 0.5), "s")
    ctx.e2e.put("op_p90_s", Out.hdQuantile(untraced.opTimes, 0.9), "s")
    val out =
      if (!a.trace) w.check(untraced)
      else {
        ctx.startTrace()
        val traced = w.measure()
        ctx.settle()
        w.perLayer(traced)
        ctx.layer.put("trace.overhead_s",
          traced.opMedian - untraced.opMedian, "s")
        writeTrace(ctx)
        val o = w.check(traced)
        val bad = Layers.reconcile(ctx, traced, w.opsPerUnit)
        o.copy(failed = math.min(o.attempted, o.failed + bad),
          correct = o.correct && bad == 0)
      }
    a.record.foreach(p => Files.write(Paths.get(p),
      w.record().getBytes(StandardCharsets.UTF_8)))
    val host = Out.obj(Seq(
      "workload" -> Out.str(a.workload), "seed" -> a.seed.toString,
      "nproc" -> a.cores.toString, "master" -> Out.str(s"local[${a.cores}]"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "load_start" -> Out.str(load0), "load_end" -> Out.str(loadAvg()),
      "steal_pct" -> Out.str(stealPct(cpu0, cpuJiffies())),
      "jvm" -> Out.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> Out.str(spark.version),
      "scala" -> Out.str(scala.util.Properties.versionNumberString),
      "notes" -> ctx.notes.map(Out.str).mkString("[", ",", "]")))
    println("HOST " + host)
    val metrics = if (a.trace) ctx.layer else ctx.e2e
    val line = Out.resultLine(out.correct, out.attempted, out.failed, metrics)
    spark.stop()
    println(line)
  }

  private def writeTrace(ctx: Ctx): Unit = {
    val js = ctx.jobs.map(_.snapshot).getOrElse(Nil)
    val spans = ctx.spans.all
    Files.write(Paths.get(ctx.a.work, "spans.jsonl"),
      Intervals.spanFile(spans, js).getBytes(StandardCharsets.UTF_8))
    val self = Intervals.selfTimes(spans, js)
    ctx.note("self time by span kind (s): " + self.toSeq.sortBy(-_._2)
      .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
  }
}

/** One measured window: the workload's operation latencies, the
  * operations attempted and failed, and its interval in epoch ms.
  */
final case class Window(opTimes: Seq[Double], attempted: Long, failed: Long,
    startMs: Double, endMs: Double) {
  def opMedian: Double = if (opTimes.isEmpty) 0.0 else Out.median(opTimes)
}

trait Workload {
  /** Writes the fixtures and runs one untimed warm-up operation. */
  def setup(): Unit
  /** Runs the window; its opTimes are the workload's operation latencies. */
  def measure(): Window
  /** Operations in one unit of work (a call; a pass). */
  def opsPerUnit: Int
  def perLayer(w: Window): Unit
  def check(w: Window): Main.Outcome
  /** This run's outputs as reference.tsv lines (`run.py --record`). */
  def record(): String
}
