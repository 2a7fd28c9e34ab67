package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.hic.{ContactsView, FitHiCMain, InterView}
import graft.ops.Caches
import graft.stream.HicStream

/** fithic_cli: closed loop, one client, calling the Fit-Hi-C CLI body
  * (`FitHiCMain.run -x All -p 2 -b 100`) on a gz-TSV library of intra
  * (ContactsView) and inter (InterView) contacts plus their fragment
  * marginals. The seed permutes the library's row order and its split
  * into files; the significances must not change with it.
  */
final class FithicCli(ctx: Main.Ctx) extends Workload {
  import FithicCli._
  private val spark = ctx.spark
  private val a = ctx.a
  private var lib = ""
  private var outputs = Vector.empty[String]
  private var calls = 0

  /** The library frame with seeded row order and file split. */
  private def seeded(df: DataFrame): DataFrame = {
    val h = xxhash64((df.columns.map(col) :+ lit(a.seed)): _*)
    df.repartition(a.cores, h).sortWithinPartitions(h)
  }

  private def contacts: DataFrame = {
    val intra = ContactsView(spark, a.tables).select(col("chr").as("chr1"),
      col("mid1"), col("chr").as("chr2"), col("mid2"), col("contactCount"))
    val inter = InterView(spark, a.tables)
      .select("chr1", "mid1", "chr2", "mid2", "contactCount")
    intra.unionByName(inter)
  }

  /** Writes the library through the engine's hic-tsv sink. */
  private def writeLibrary(dir: String): Unit = {
    val c = contacts
    seeded(c).write.format("hic-tsv").option("kind", "contacts")
      .mode("overwrite").save(s"$dir/contacts.txt.gz")
    val frags = HicStream.locusUpdates(c).groupBy("chr", "mid")
      .agg(sum("contactCount").as("hitCount"))
      .select(col("chr"), lit(0L).as("extraField"), col("mid"),
        col("hitCount"), lit(1).as("mappable"))
    seeded(frags).write.format("hic-tsv").option("kind", "fragments")
      .mode("overwrite").save(s"$dir/fragments.txt.gz")
  }

  private def call(out: String): Unit = {
    FitHiCMain.run(spark, Array("-i", s"$lib/contacts.txt.gz",
      "-f", s"$lib/fragments.txt.gz", "-o", out,
      "-x", "All", "-p", "2", "-b", "100"))
  }

  def setup(): Unit = {
    lib = ctx.work("library")
    val t0 = System.nanoTime()
    writeLibrary(lib)
    val t1 = System.nanoTime()
    call(ctx.work("warmup"))
    Caches.drain()
    ctx.note(f"set-up: library ${Out.sec(t0, t1)}%.2f s, " +
      f"warm-up call ${Out.sec(t1, System.nanoTime())}%.2f s")
  }

  def measure(): Window = {
    val startMs = ctx.spans.now()
    val times = Vector.newBuilder[Double]
    var failed = 0L
    var maxCached = 0.0
    val n = Main.opsFor(a.seconds, nominalCallS)
    if (ctx.spans.enabled) Option(BinomCount.evals).foreach(_.reset())
    for (_ <- 1 to n) {
      calls += 1
      val out = ctx.work(s"out_$calls")
      val s = System.nanoTime()
      val ok = ctx.spans("op", "FitHiCMain.run") {
        val r = try { ctx.spans("run", "cli")(call(out)); true }
          catch { case e: Exception => ctx.note(s"call $calls failed: $e"); false }
        ctx.spans("drain", "Caches.drain")(Caches.drain())
        r
      }
      times += Out.sec(s, System.nanoTime())
      maxCached = math.max(maxCached, ctx.cachedMb())
      if (ok) outputs :+= out else failed += 1
      ctx.heap.collect()
    }
    ctx.layer.put("spark.cached_mb_after_op", maxCached, "MB")
    Window(times.result(), n.toLong, failed, startMs, ctx.spans.now())
  }

  def opsPerUnit: Int = 1

  def perLayer(w: Window): Unit = {
    Layers.put(ctx, w, w.attempted.toDouble)
    val src = spark.read.format("hic-tsv").option("kind", "contacts")
      .load(s"$lib/contacts.txt.gz")
    def scan(): Long = src.agg(count(lit(1)), sum("contactCount"),
      max("chr1"), max("chr2"), sum("mid1"), sum("mid2")).first().getLong(0)
    val libRows = scan()
    val loci = spark.read.format("hic-tsv").option("kind", "fragments")
      .load(s"$lib/fragments.txt.gz").count()
    ctx.note(s"library: $libRows contact pairs, $loci loci")
    val scanS = Out.median((1 to 3).map { _ =>
      val s = System.nanoTime(); scan(); Out.sec(s, System.nanoTime())
    })
    val cached = src.persist()
    cached.count()
    val writeS = Out.median((1 to 3).map { i =>
      val s = System.nanoTime()
      cached.write.format("hic-tsv").option("kind", "contacts")
        .mode("overwrite").save(ctx.work("rewrite") + s"/c$i.txt.gz")
      Out.sec(s, System.nanoTime())
    })
    cached.unpersist()
    ctx.layer.put("sources.hictsv_scan_rows_per_s", libRows / scanS, "1/s")
    ctx.layer.put("sources.hictsv_write_rows_per_s", libRows / writeS, "1/s")
    ctx.layer.put("functions.binom_sf_evals",
      Option(BinomCount.evals).map(_.value.toDouble).getOrElse(0.0) / w.attempted,
      "count")
    ctx.layer.put("functions.binom_sf_ns", binomNs(src), "ns")
    Layers.zeroRest(ctx)
  }

  /** Isolated Binom.sf calls on the library's own counts: k = a pair's
    * count, n = the total, p = the uniform share of one pair.
    */
  private def binomNs(src: DataFrame): Double = {
    val ks = src.select("contactCount").collect().map(_.getLong(0))
    val n = ks.sum
    val p = 1.0 / ks.length
    var acc = 0.0
    val reps = math.max(1, 200000 / ks.length)
    val s = System.nanoTime()
    var r = 0
    while (r < reps) {
      var i = 0
      while (i < ks.length) { acc += graft.functions.Binom.sf(ks(i), n, p); i += 1 }
      r += 1
    }
    val ns = (System.nanoTime() - s).toDouble / (reps.toLong * ks.length)
    if (acc.isNaN) ctx.note("binomial tail returned NaN")
    ns
  }

  def check(w: Window): Main.Outcome = {
    val want = ctx.ref.section("fithic")
    var bad = 0L
    var first: Option[Map[String, String]] = None
    outputs.foreach { o =>
      val got = files.map { f =>
        val (rows, d) = digest(spark, s"$o/$f"); f -> s"$rows:$d"
      }.toMap
      val okRef = want.isEmpty || got == want
      val okSame = first.forall(_ == got)
      if (first.isEmpty) first = Some(got)
      if (!okRef || !okSame) {
        bad += 1
        ctx.note(s"fithic output $o differs: $got vs reference $want")
      }
    }
    recorded = first.getOrElse(Map.empty)
    if (want.isEmpty) ctx.note("no fithic reference recorded: outputs unchecked")
    val failed = math.min(w.attempted, w.failed + bad)
    Main.Outcome(w.attempted, failed, failed == 0 && want.nonEmpty)
  }

  private var recorded = Map.empty[String, String]
  def record(): String = Reference.lines("fithic", recorded.toSeq.sorted)
}

object FithicCli {
  /** A warm call on the reference host (4 vCPUs). */
  val nominalCallS = 10.5

  val files = Seq(
    "graft.spline_pass1.res5000.significances.txt.gz",
    "graft.spline_pass2.res5000.significances.txt.gz",
    "graft.interOnly.res5000.significances.txt.gz")

  /** Row count and an order-independent digest of a significances file:
    * the sum and the xor of a hash of each row, with p and q rounded to
    * six significant digits.
    */
  def digest(spark: org.apache.spark.sql.SparkSession, path: String): (Long, String) = {
    val h = xxhash64(col("chr1"), col("mid1"), col("chr2"), col("mid2"),
      col("contactCount"), format_string("%.5e", col("p_value")),
      format_string("%.5e", col("q_value")))
    val r = spark.read.format("hic-tsv").option("kind", "significances")
      .load(path)
      .agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).first()
    (r.getLong(0), s"${r.getLong(1)}-${r.getLong(2)}")
  }
}
