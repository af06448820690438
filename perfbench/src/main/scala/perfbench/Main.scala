package perfbench

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed unit of work: a refresh or a request. */
final case class UnitRec(kind: String, startMs: Long, endMs: Long,
    seconds: Double, traced: Boolean)

/** A workload: set-up, then whole rounds of units in a closed loop (one
  * caller; the next unit starts when the last one ends).
  */
abstract class Workload(val ctx: Ctx) {
  val units = mutable.ArrayBuffer.empty[UnitRec]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, String]

  /** Rounds a run times at the least, however short `--seconds`. */
  val minRounds: Int = 1

  /** Table resolution, any cache build, and the warm-up units. */
  def setUp(): Unit

  /** Runs round `r`: the same operations in every round. */
  def round(r: Int): Unit

  /** Untimed, after the last round: keeps outputs for the checks. */
  def check(): Unit

  /** This workload's layer metrics over the traced units. */
  def layers(traced: Seq[UnitRec]): Map[String, Double]

  /** Times one unit of `ops` operations. */
  protected def timed[T](kind: String, ops: Int = 1)(body: => T): T = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = ctx.tracer.unit(kind)(body)
    units += UnitRec(kind, ms, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9, ctx.tracer.on)
    attempted += ops
    out
  }

  /** Runs `tasks` on `nproc` threads and waits for all of them. */
  protected def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(
      ctx.spark.sparkContext.defaultParallelism)
    try pool.invokeAll(tasks.map(t => new Callable[Unit] {
      def call(): Unit = t()
    }).asJava).asScala.foreach(_.get())
    finally pool.shutdown()
  }

  /** An operation outside the timed units; a failure is counted, not fatal. */
  protected def untimed(name: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: Exception =>
        failed += 1
        failures.getOrElseUpdate(name, Main.rootMessage(e))
    }
  }
}

object Main {
  /** The innermost message that names a Spark error class, else the root
    * cause's, on one line.
    */
  def rootMessage(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val named = chain.reverse.find(c => String.valueOf(c.getMessage)
      .startsWith("[")).getOrElse(chain.last)
    s"${named.getClass.getSimpleName}: ${String.valueOf(named.getMessage)
      .linesIterator.take(1).mkString.take(300)}"
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1) min (s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The session `graft.Bench` measures with, plus scratch directories
    * inside the run's work directory.
    */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(cpus, s"$work/spark")
    val ctx = new Ctx(spark, a("data"), work, a("seed").toLong)
    val wl: Workload = a("workload") match {
      case "refresh_cold" => new RefreshCold(ctx)
      case "api_reads_warm" => new ApiReads(ctx)
      case "graph_sql" => new GraphSql(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    wl.setUp()
    val setupS = (System.nanoTime() - t0) / 1e9
    // The first timed round after set-up still runs on a JVM that is
    // getting faster (a graph_sql round ~20% slower than the next): a
    // traced run, which compares rounds with each other, untimes it.
    if (trace) { wl.round(0); wl.units.clear() }

    // Traced runs trace rounds in the order untraced, traced, traced,
    // untraced, so a JVM still getting faster favours neither side, and
    // the difference between the two sides' totals is the tracing overhead.
    val sc = spark.sparkContext
    val gc0 = gcSeconds
    heapPools.foreach(_.resetPeakUsage())
    val group = if (trace) 4 else 1
    var r = 0
    while (r < wl.minRounds || r % group != 0 ||
        wl.units.map(_.seconds).sum < seconds) {
      val traced = trace && (r % 4 == 1 || r % 4 == 2)
      if (traced) {
        ctx.tracer.on = true
        sc.addSparkListener(ctx.ledger)
        spark.listenerManager.register(ctx.ledger)
      }
      wl.round(r)
      if (traced) {
        BusDrain(sc)
        sc.removeSparkListener(ctx.ledger)
        spark.listenerManager.unregister(ctx.ledger)
        ctx.tracer.on = false
      }
      r += 1
    }
    val gcS = gcSeconds - gc0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val measured = wl.units.map(_.seconds).sum

    wl.check()
    ctx.checks.write()

    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupS,
        "unit_s" -> median(wl.units.map(_.seconds).toSeq),
        "units_per_s" -> wl.units.size / measured)
      else {
        val traced = wl.units.filter(_.traced).toSeq
        val n = traced.size.toDouble
        val work = traced.map(u => ctx.ledger.window(u.startMs, u.endMs))
          .foldLeft(Work.zero)(_ + _)
        val tr = ctx.tracer
        val top = tr.spans.filter(s => s.kind == "build" &&
          !tr.spans.exists(p => p.id == s.parent && p.kind == "build"))
        val untracedS = wl.units.filterNot(_.traced).map(_.seconds).toSeq
        Map(
          "spark.jobs" -> work.jobs / n,
          "spark.stages" -> work.stages / n,
          "spark.tasks" -> work.tasks / n,
          "spark.task_cpu_s" -> work.taskCpuS / n,
          "spark.task_run_s" -> work.taskRunS / n,
          "spark.shuffle_read_bytes" -> work.shuffleReadBytes / n,
          "spark.shuffle_write_bytes" -> work.shuffleWriteBytes / n,
          "spark.idle_gap_s" -> (traced.map(_.seconds).sum - work.jobBusyS) / n,
          "catalyst.plan_s" -> work.planS / n,
          "construction.build_s" -> top.map(_.seconds).sum / n,
          "action.s" -> tr.spans.filter(_.kind == "action")
            .map(tr.selfSeconds).sum / n,
          "jvm.gc_s" -> gcS / wl.units.size,
          "jvm.peak_heap_mb" -> peakHeapMb,
          "trace.overhead_pct" ->
            (traced.map(_.seconds).sum / untracedS.sum - 1) * 100,
        ) ++ wl.layers(traced)
      }

    Files.writeString(Paths.get(s"$work/trace.json"), ctx.tracer.json)
    val failures = wl.failures.map { case (k, v) =>
      s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    val ms = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$work/result.json"),
      s"""{"attempted": ${wl.attempted}, "failed": ${wl.failed},
         |"failures": $failures,
         |"unit_seconds": ${wl.units.map(_.seconds).mkString("[", ", ", "]")},
         |"oracle_checks": ${ctx.checks.count},
         |"property_checks": ${ctx.checks.properties},
         |"violations": ${ctx.checks.violations.map(Json.str)
           .mkString("[", ", ", "]")},
         |"metrics": $ms}
         |""".stripMargin)
    spark.stop()
  }
}
