package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM; run.py fills it in. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, data: String, golden: String, nproc: Int,
    traceOut: Option[String], writeGolden: Boolean, injectFailure: Boolean,
    metrics: Seq[(String, String)])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String, default: String = null): String =
      m.getOrElse(k, Option(default).getOrElse(throw new IllegalArgumentException(s"--$k is required")))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("data"), get("golden", ""), get("nproc").toInt,
      m.get("trace-out"), get("write-golden", "0") == "1", get("inject-failure", "0") == "1",
      // name=unit,name=unit: the metrics BENCHMARK.json names for this run
      get("metrics").split(',').toSeq.map(_.split('=') match {
        case Array(n, u) => n -> u
        case other => throw new IllegalArgumentException(s"bad metric: ${other.mkString("=")}")
      }))
  }
}

/** What a workload measures: set-up (repeated in fresh sessions), the
  * closed loop, then the untimed output checks and per-layer figures. */
trait Workload {
  def setup(s: SparkSession, ctx: Ctx): Unit = ()
  def measure(s: SparkSession, ctx: Ctx): Unit
  def check(s: SparkSession, ctx: Ctx): Unit
  /** Per-layer figures from this workload's spans (traced run). */
  def layers(ctx: Ctx, counts: Map[Int, Counts]): Unit
}

/** Run state shared by a workload and the runner: operation counts,
  * failed checks, and the metric values to print. */
final class Ctx(val args: Args, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private val failedByName = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** One attempted operation. A throw counts as failed and yields None,
    * so no caller can time it. */
  def op[A](name: String, opId: Long, label: String = "")(f: => A): Option[(A, Span)] = {
    attempted += 1
    tracer.span(name, opId, label)(f) match {
      case Right(r) => Some(r)
      case Left(t) =>
        failed += 1
        failedByName(name) += 1
        System.err.println(s"[perfbench] $name (op $opId) failed: $t")
        None
    }
  }

  /** A span inside an operation; a throw propagates to the operation. */
  def sub[A](name: String)(f: => A): (A, Span) =
    tracer.span(name)(f).fold(t => throw t, identity)

  def failures(name: String): Long = failedByName(name)

  def fail(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] check failed: $msg")
  }

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted.toIndexedSeq
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
}

/** Peak live heap: heap in use once a full collection and Spark's cleaner
  * have released everything the finished work no longer references, taken
  * after every set-up and every pass (outside all timing). Young
  * collections leave dead objects in the old generation, so their after-GC
  * usage depends on when they happen to run; and the cleaner drops
  * broadcast and shuffle blocks only after a collection found their handles
  * unreachable, so right after one collection the heap read 10-40% high,
  * by a different amount each run. Collecting until the heap stops
  * shrinking takes about a second and read within 1% over three runs of
  * the batch workload. */
object HeapPeak {
  private var peak = 0L

  private def usedAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def sample(sc: org.apache.spark.SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    var prev = Long.MaxValue
    var used = usedAfterGc()
    var rounds = 0
    while (rounds < 10 && prev - used > (1L << 20)) {
      Thread.sleep(200)
      prev = used
      used = usedAfterGc()
      rounds += 1
    }
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak.toDouble / (1024.0 * 1024.0)
}

object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def workload(name: String): Workload = name match {
    case "batch_registry_cold" => new BatchWorkload
    case "stream_replay" => new StreamWorkload
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = Args.parse(argv)
    val wl = workload(a.workload)
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(a, tracer)

    // Set-up runs `Setups` times, each in a fresh session over a fresh
    // warehouse, so that nothing one set-up lands is reused by the next;
    // the measured loop runs in the last one.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val sessionTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      System.setProperty("spark.sql.warehouse.dir", s"${a.work}/warehouse-$i")
      val t0 = System.nanoTime()
      val (s, sp) = ctx.sub("Graft.session")(
        graft.Graft.session(master = s"local[${a.nproc}]", shufflePartitions = a.nproc))
      spark = s
      sessionTimes += sp.seconds
      spark.sparkContext.setLogLevel("ERROR")
      tracer.attach(spark)
      // JIT and shuffle warm-up that any user pays once per session
      ctx.sub("Graft.warmup")(spark.range(1000).selectExpr("sum(id)").collect())
      wl.setup(spark, ctx)
      setupTimes += ctx.elapsedSince(t0)
      HeapPeak.sample(spark.sparkContext)
    }

    if (a.injectFailure)
      ctx.op("inject.failure", -1L)(throw new IllegalStateException("injected failure"))
    wl.measure(spark, ctx)
    tracer.drain()
    wl.check(spark, ctx)

    ctx.e2e("setup_s") = bootS + Stats.median(setupTimes.toSeq)
    ctx.e2e("heap_peak_mb") = HeapPeak.peakMb

    // exactly the metrics run.py passed from BENCHMARK.json
    val names = a.metrics.map(_._1)
    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val missing = names.filterNot(ctx.e2e.contains)
        require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(",")}")
        require(ctx.e2e.keySet.subsetOf(names.toSet),
          s"metrics BENCHMARK.json does not name: ${(ctx.e2e.keySet -- names).mkString(",")}")
        a.metrics.map { case (n, u) => (n, u, ctx.e2e(n)) }
      } else {
        tracer.drain()
        val counts = tracer.countsBySpan()
        ctx.layer("Graft.session_s") = Stats.median(sessionTimes.toSeq)
        ctx.layer("trace.unattributed_jobs") = tracer.unattributed.toDouble
        ctx.layer("trace.cold_pass_s") = ctx.e2e("cold_pass_s")
        ctx.layer("trace.op_p50_ms") = ctx.e2e("op_p50_ms")
        wl.layers(ctx, counts)
        a.traceOut.foreach(p => tracer.writeSpans(java.nio.file.Paths.get(p), counts))
        require(ctx.layer.keySet.subsetOf(names.toSet),
          s"metrics BENCHMARK.json does not name: ${(ctx.layer.keySet -- names).mkString(",")}")
        // a layer this workload does not reach reads 0; selftest.py checks
        // that every per-layer metric is reached by some workload
        System.err.println(s"[perfbench] unreached: ${names.filterNot(ctx.layer.contains).mkString(",")}")
        a.metrics.map { case (n, u) => (n, u, ctx.layer.getOrElse(n, 0.0)) }
      }

    val correct = ctx.problems.isEmpty && ctx.failed == 0
    println(Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}
