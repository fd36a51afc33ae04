package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.QueryDef
import graft.operators.{Relational, StatefulOps, WindowedAgg}
import graft.streaming.StreamTwins

/** stream_replay: the replay twins over seed-generated events. A pass
  * calls each twin once, in a seeded order; passes repeat until the run's
  * time is used. Each call replays the whole input through a real
  * Structured Streaming query at `graft.replay.chunks` micro-batches, so
  * the per-batch machinery (offsets WAL, commit log, state-store commit,
  * planning) dominates. q07r stops mid-replay and resumes from its
  * checkpoint. */
final class StreamWorkload extends Workload {
  import StreamWorkload._

  private val done = mutable.ArrayBuffer.empty[Done]
  private val passWall = mutable.ArrayBuffer.empty[Double]
  private var inputRows = Map.empty[String, Long]

  def measure(s: SparkSession, ctx: Ctx): Unit = {
    val d = ctx.args.data
    // rows each call feeds: the events, or q24s's customers and orders
    // (plus its decoy orders, one per 97 orders)
    def rows(t: String) = ctx.sub("bench.inputs")(s.read.parquet(s"$d/$t.parquet").count())._1
    val events = rows("events")
    val orders = rows("orders")
    val fk = rows("customer") + orders + (orders + 96) / 97
    inputRows = twins.map(t => t._1.name -> (if (t._1 eq StreamTwins.q24s) fk else events)).toMap
    val order = new scala.util.Random(ctx.args.seed).shuffle(twins.map(_._1))
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || ctx.elapsedSince(t0) < ctx.args.seconds) {
      val tp = System.nanoTime()
      order.zipWithIndex.foreach { case (q, i) =>
        ctx.op("streaming.twin", opId(pass, i), q.name) {
          Digest.of(ctx.sub(s"streaming.${q.name.takeWhile(_ != '_')}")(q.fn(s, d))._1)
        }.foreach { case (v, op) => done += Done(q.name, pass, op, v, inputRows(q.name)) }
      }
      passWall += ctx.elapsedSince(tp)
      HeapPeak.sample(s.sparkContext)
      pass += 1
    }
    ctx.tracer.drain()
    val trig = triggers(ctx).map(_.toDouble)
    ctx.e2e("cold_pass_s") = passWall.head
    ctx.e2e("warm_pass_s") = Stats.median(passWall.tail.toSeq)
    ctx.e2e("op_p50_ms") = Stats.quantile(trig, 0.5)
    ctx.e2e("rows_per_s") = done.map(_.inputRows).sum / done.map(_.op.seconds).sum
  }

  /** triggerExecution of every micro-batch of the queries the twin calls
    * started (and of no other stream on the session). */
  private def triggers(ctx: Ctx): Seq[Long] =
    twinBatches(ctx).map(_.p.durationMs.get("triggerExecution").longValue)

  private def twinBatches(ctx: Ctx): Seq[BatchProgress] = {
    val twinSpans = ctx.tracer.allSpans.filter(_.name.startsWith("streaming.q")).map(_.id).toSet
    ctx.tracer.batches.collect { case (sp, b) if twinSpans(sp) => b }
  }

  def check(s: SparkSession, ctx: Ctx): Unit = {
    val d = ctx.args.data
    twins.foreach { case (twin, batch) =>
      val want = ctx.tracer.span("bench.check")(Digest.of(batch.fn(s, d)).digest).map(_._1)
      val got = done.filter(_.twin == twin.name)
      want match {
        case Left(t) => ctx.fail(s"${batch.name} failed on the generated input: $t")
        case Right(w) => got.foreach { g =>
          if (g.value.digest != w)
            ctx.fail(s"${twin.name} pass ${g.pass + 1}: digest ${g.value.digest} != ${batch.name} $w")
        }
      }
      if (got.map(_.pass).distinct.size != passWall.size) ctx.fail(s"${twin.name} has no digest in some pass")
    }
  }

  def layers(ctx: Ctx, counts: Map[Int, Counts]): Unit = {
    val passes = passWall.size.toDouble
    val bs = twinBatches(ctx)
    def dur(k: String) = Stats.median(bs.map(b => Option(b.p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val ops = bs.map(_.p.stateOperators.toSeq)
    ctx.layer("streaming.batches") = bs.size / passes
    ctx.layer("streaming.empty_batch_frac") =
      if (bs.isEmpty) 0.0 else bs.count(_.p.numInputRows == 0).toDouble / bs.size
    ctx.layer("streaming.trigger_ms") = dur("triggerExecution")
    ctx.layer("streaming.trigger_p90_ms") = Stats.quantile(triggers(ctx).map(_.toDouble), 0.9)
    ctx.layer("streaming.add_batch_ms") = dur("addBatch")
    ctx.layer("streaming.query_planning_ms") = dur("queryPlanning")
    ctx.layer("streaming.wal_commit_ms") = dur("walCommit")
    ctx.layer("streaming.commit_offsets_ms") = dur("commitOffsets")
    ctx.layer("streaming.get_batch_ms") = dur("getBatch")
    ctx.layer("streaming.state_commit_ms") = Stats.median(ops.map(_.map(_.commitTimeMs).sum.toDouble))
    // where twin-call time goes: inside micro-batches or around them (query
    // start and stop, the digest of the sink), and inside a micro-batch,
    // in the sink's addBatch (the compute) or in the coordination around
    // it (offsets WAL, commit log, planning)
    def total(k: String) = bs.map(b => Option(b.p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val trig = total("triggerExecution")
    ctx.layer("streaming.in_batch_frac") = trig / 1e3 / done.map(_.op.seconds).sum
    ctx.layer("streaming.coord_frac") = if (trig == 0) 0.0 else (trig - total("addBatch")) / trig
    ctx.layer("streaming.state_rows_updated") = ops.map(_.map(_.numRowsUpdated).sum).sum / passes
    ctx.layer("streaming.state_rows_removed") = ops.map(_.map(_.numRowsRemoved).sum).sum / passes
    ctx.layer("streaming.state_memory_bytes") =
      (0L +: ops.map(_.map(_.memoryUsedBytes).sum)).max.toDouble
    // query start: the run's start event to its first batch's start
    val starts = ctx.tracer.starts
    val byRun = bs.groupBy(_.runId)
    ctx.layer("streaming.query_start_ms") = Stats.median(byRun.toSeq.flatMap { case (run, b) =>
      starts.get(run).map { case (_, t) => (Tracer.parseMs(b.minBy(_.p.batchId).p.timestamp) - t).toDouble }
    })
    // q07r: the resumed run's start to the end of its first batch
    val restarts = byRun.toSeq.flatMap { case (run, b) =>
      starts.get(run).filter { case (qid, _) =>
        starts.exists { case (other, (q2, t2)) => other != run && q2 == qid && t2 < starts(run)._2 }
      }.map { case (_, t) =>
        val first = b.minBy(_.p.batchId).p
        (Tracer.parseMs(first.timestamp) + first.durationMs.get("triggerExecution").longValue - t).toDouble
      }
    }
    ctx.layer("streaming.restore_ms") = Stats.median(restarts)
    val c = ctx.tracer.sumOps(counts, _ >= 0)
    ctx.layer("streaming.tasks") = c.tasks / passes
    ctx.layer("streaming.task_cpu_s") = c.cpuNs / 1e9 / passes
    ctx.layer("streaming.scheduler_delay_s") = c.schedDelayMs / 1e3 / passes
    ctx.layer("streaming.replays_failed") = ctx.failures("streaming.twin").toDouble
  }
}

object StreamWorkload {
  private final case class Done(twin: String, pass: Int, op: Span, value: Digest.Value, inputRows: Long)

  /** Each twin with the batch query it must agree with. */
  val twins: Seq[(QueryDef, QueryDef)] = Seq(
    StreamTwins.q07s -> WindowedAgg.q07,
    StreamTwins.q08s -> WindowedAgg.q08,
    StreamTwins.q09s -> WindowedAgg.q09,
    StreamTwins.q10s -> StatefulOps.q10,
    StreamTwins.q12s -> StatefulOps.q12,
    StreamTwins.q24s -> Relational.q24,
    StreamTwins.q07r -> WindowedAgg.q07)

  def opId(pass: Int, i: Int): Long = pass * 100L + i
}
