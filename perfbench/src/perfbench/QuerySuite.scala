package perfbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import graft.{Q, SparkEntry}
import graft.ops.Caches

/** query_suite: closed loop, one client, running a fixed slice of the
  * declared queries (`suite.txt`) in the shape `graft.Bench` times,
  * `fn(spark, dir).count()` then `Caches.drain()`, in a seeded order per
  * pass.
  */
final class QuerySuite(ctx: Main.Ctx) extends Workload {
  import QuerySuite._
  private val spark = ctx.spark
  private val a = ctx.a
  private val queries = SparkEntry.queries
  private val names: Seq[String] = {
    val p = Paths.get(a.reference).resolveSibling("suite.txt")
    Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  }
  names.filterNot(queries.contains).foreach(n =>
    sys.error(s"suite.txt names $n, which the registry does not declare"))
  private val expected = ctx.ref.section("suite")
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private var wrong = 0L
  private var passes = 0
  private var windowPasses = 0
  private val byQuery = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(a.seed * 7919L + pass).shuffle(names)

  /** One query; returns its wall time and whether it failed. */
  private def runOne(name: String, traced: Boolean): (Double, Boolean) = {
    val fn = queries(name)
    val s = System.nanoTime()
    val c: Option[Long] = ctx.spans("op", name) {
      try {
        val df = ctx.spans("build", name)(fn(spark, a.tables))
        val n =
          if (!traced) df.count()
          else {
            // count() is groupBy().count() on the same plan: planning it
            // first times exactly the plan the untraced run executes
            val counted = df.groupBy().count()
            ctx.spans("plan", name)(counted.queryExecution.executedPlan)
            ctx.spans("exec", name)(counted.collect().head.getLong(0))
          }
        Some(n)
      } catch {
        case e: Exception => ctx.note(s"$name failed: $e"); None
      } finally ctx.spans("drain", name)(Caches.drain())
    }
    val t = Out.sec(s, System.nanoTime())
    c.foreach { n =>
      counts(name) = n
      expected.get(name).foreach { want =>
        if (want.toLong != n) {
          wrong += 1
          ctx.note(s"$name counted $n rows, reference $want")
        }
      }
    }
    (t, c.isEmpty || expected.get(name).exists(_.toLong != c.get))
  }

  def setup(): Unit = {
    passes += 1
    order(passes).foreach(runOne(_, traced = false))
  }

  def measure(): Window = {
    val traced = ctx.spans.enabled
    val startMs = ctx.spans.now()
    val times = Vector.newBuilder[Double]
    var failed = 0L
    var n = 0L
    var maxCached = 0.0
    val scratch = Vector.newBuilder[(String, Double)]
    windowPasses = Main.opsFor(a.seconds, nominalPassS)
    for (_ <- 1 to windowPasses) {
      passes += 1
      order(passes).foreach { q =>
        val before = if (traced) scratchBytes(tmpRoot) else 0L
        val (t, bad) = runOne(q, traced)
        if (traced) scratch += q -> math.max(0L, scratchBytes(tmpRoot) - before) / 1e6
        maxCached = math.max(maxCached, ctx.cachedMb())
        times += t
        byQuery(q) = byQuery.getOrElse(q, Vector.empty) :+ t
        n += 1
        if (bad) failed += 1
      }
      ctx.heap.collect()
    }
    ctx.layer.put("spark.cached_mb_after_op", maxCached, "MB")
    scratchMb = scratch.result()
    Window(times.result(), n, failed, startMs, ctx.spans.now())
  }

  private var scratchMb = Vector.empty[(String, Double)]
  private lazy val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))

  def opsPerUnit: Int = names.length

  def perLayer(w: Window): Unit = {
    val np = windowPasses.toDouble
    Layers.put(ctx, w, np)
    val js = Layers.jobs(ctx, w)
    val ivs = Intervals.jobIntervals(js)
    val spans = ctx.spans.all.filter(s => s.start >= w.startMs)
    val byKind = spans.groupBy(_.kind)
    val groupOf = groups
    Layers.groups.foreach { g =>
      def inG(s: Span) = groupOf.get(s.name).contains(g)
      def total(kind: String) =
        byKind.getOrElse(kind, Nil).filter(inG).map(_.dur).sum / np
      Seq("build", "plan", "exec", "drain").foreach(k =>
        ctx.layer.put(s"suite.$g.${k}_s", total(k), "s"))
      val ops = byKind.getOrElse("op", Nil).filter(inG)
      ctx.layer.put(s"suite.$g.jobs",
        ops.map(s => Intervals.jobsIn(s, js).size).sum / np, "count")
      ctx.layer.put(s"suite.$g.driver_gap_s", ops.map(s =>
        s.dur - Intervals.covered(s.start, s.end, ivs)).sum / np, "s")
      ctx.layer.put(s"suite.$g.scratch_mb", scratchMb.collect {
        case (q, mb) if groupOf.get(q).contains(g) => mb
      }.sum / np, "MB")
    }
    Layers.zeroRest(ctx)
  }

  def check(w: Window): Main.Outcome = {
    ctx.note("median time per query (s): " + byQuery.toSeq.sortBy(_._1)
      .map { case (q, ts) => f"$q=${Out.median(ts)}%.3f" }.mkString(" "))
    val missing = names.filterNot(expected.contains)
    if (missing.nonEmpty) ctx.note(s"no reference count for ${missing.mkString(",")}")
    val failed = math.min(w.attempted, w.failed)
    Main.Outcome(w.attempted, failed,
      failed == 0 && wrong == 0 && missing.isEmpty)
  }

  def record(): String =
    Reference.lines("suite", counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
}

object QuerySuite {
  /** A warm pass of suite.txt on the reference host (4 vCPUs). */
  val nominalPassS = 3.6

  /** Query name -> the Registry group that declares it. */
  lazy val groups: Map[String, String] = {
    import graft.{hic, llm, ops, stream}
    def tag(g: String, qs: Map[String, Q]*) = qs.flatMap(_.keys).map(_ -> g)
    (tag("ops", ops.Relational.queries, ops.Aggregates.queries,
      ops.Joins.queries, ops.Windows.queries, ops.SetsSorts.queries,
      ops.Functions.queries, ops.Subqueries.queries,
      ops.EventAnalytics.queries, ops.Graph.queries, ops.Tpch.queries) ++
      tag("ops.Warehouse", ops.Warehouse.queries) ++
      tag("hic", hic.HicQueries.queries, hic.Matrix.queries) ++
      tag("llm", llm.LlmQueries.queries, llm.EmbedQueries.queries,
        llm.CorpusStats.queries, llm.SpanDedup.queries,
        llm.Selection.queries) ++
      tag("stream", stream.StreamQueries.queries)).toMap
  }

  /** Bytes of the engine's scratch directories under the temp root;
    * files that vanish during the walk count as 0.
    */
  def scratchBytes(root: Path): Long = {
    var total = 0L
    if (Files.isDirectory(root))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, at: BasicFileAttributes): FileVisitResult = {
          total += at.size(); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    total
  }
}
