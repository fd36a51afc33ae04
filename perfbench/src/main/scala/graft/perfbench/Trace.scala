package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span around a benchmark call into a layer. `op` groups the spans
  * of one operation (a query or a twin call). */
final case class Span(
    id: Int, name: String, parent: Int, op: Long, startNs: Long, label: String = "",
    var endNs: Long = 0L, var failed: Boolean = false) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters summed over the jobs attributed to one span. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runNs = 0L; var cpuNs = 0L; var schedDelayMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L
  /** Wall time of the jobs that wrote files (start to end of each job). */
  var writeJobMs = 0L
  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runNs += o.runNs
    cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; writeJobMs += o.writeJobMs
  }
}

/** A micro-batch's progress, kept when its query was started inside a span. */
final case class BatchProgress(runId: String, queryId: String, p: StreamingQueryProgress)

/** Spans in memory, the streaming progress of the queries the measured
  * calls start, and (traced run only) Spark task counters attributed to
  * the span that caused them.
  *
  * Attribution is exact, never by time window:
  *  - a span sets the local property [[SpanKey]] on the caller thread;
  *    Spark copies local properties to the threads a call creates (the
  *    micro-batch thread of a query started inside the call) and to its
  *    SQL execution pools, so every job the call causes carries its id;
  *  - `onQueryStarted` runs synchronously inside `start()`, so a query
  *    is owned by the span open on the caller thread when it starts, and
  *    only progress of owned queries is kept; a micro-batch job that
  *    carries no span property still carries its query's run id (its job
  *    group), which names the owner. */
final class Tracer(val traced: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var open: Option[Span] = None

  /** runId -> span that started the query. */
  private val queryOwner = mutable.Map.empty[String, Int]
  private val progress = mutable.ArrayBuffer.empty[(Int, BatchProgress)]
  /** runId -> query start (ms) for the restore measurement. */
  private val queryStart = mutable.Map.empty[String, (String, Long)]

  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStream = mutable.Map.empty[Int, String]
  /** jobId -> (start ms, end ms). */
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobCounts = mutable.Map.empty[Int, Counts]
  private var unattributedJobs = 0L

  private var spark: SparkSession = _

  /** Run `f` inside a span; returns its result, or the throwable. The span
    * is kept (marked failed) either way; callers keep failures out of
    * every timing. */
  def span[A](name: String, op: Long = -1L, label: String = "")(f: => A): Either[Throwable, (A, Span)] = {
    val parent = stack.headOption
    val sp = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      if (op >= 0) op else parent.map(_.op).getOrElse(-1L), System.nanoTime(), label)
    spans.synchronized(spans += sp)
    stack = sp :: stack
    open = Some(sp)
    val sc = Option(spark).map(_.sparkContext)
    val prevProp: String = sc.map(_.getLocalProperty(SpanKey)).orNull
    sc.foreach(_.setLocalProperty(SpanKey, sp.id.toString))
    try {
      val a = f
      sp.endNs = System.nanoTime()
      Right((a, sp))
    } catch {
      case t: Throwable =>
        sp.endNs = System.nanoTime()
        sp.failed = true
        Left(t)
    } finally {
      stack = stack.tail
      open = stack.headOption
      sc.foreach(_.setLocalProperty(SpanKey, prevProp))
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Progress of the queries started inside spans, with the owning span. */
  def batches: Seq[(Int, BatchProgress)] = synchronized(progress.toVector)

  /** (query id, start ms) of each owned run, by runId. */
  def starts: Map[String, (String, Long)] = synchronized(queryStart.toMap)

  /** Attach to a session. Progress is always collected (the end-to-end
    * stream metrics need it); task counters only on the traced run. */
  def attach(s: SparkSession): Unit = {
    spark = s
    s.streams.addListener(streamListener)
    if (traced) s.sparkContext.addSparkListener(taskListener)
  }

  /** Wait until every event Spark has posted so far is delivered. */
  def drain(): Unit = Option(spark).foreach(s => org.apache.spark.PerfbenchBus.drain(s.sparkContext))

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // called synchronously inside DataStreamWriter.start() on the caller thread
    override def onQueryStarted(e: QueryStartedEvent): Unit = open.foreach { sp =>
      Tracer.this.synchronized {
        queryOwner(e.runId.toString) = sp.id
        queryStart(e.runId.toString) = (e.id.toString, parseMs(e.timestamp))
      }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val run = e.progress.runId.toString
      queryOwner.get(run).foreach { sp =>
        progress += ((sp, BatchProgress(run, e.progress.id.toString, e.progress)))
      }
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      prop(SpanKey).foreach(id => jobSpan(e.jobId) = id.toInt)
      for (run <- prop(JobGroupKey); _ <- prop(BatchIdKey)) jobStream(e.jobId) = run
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
      jobCounts(e.jobId) = new Counts
      jobCounts(e.jobId).jobs = 1
      jobTimes(e.jobId) = (e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobTimes.get(e.jobId).foreach { case (start, _) => jobTimes(e.jobId) = (start, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobCounts.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- stageJob.get(e.stageId); c <- jobCounts.get(job); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        c.tasks += 1
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Task counters per span id (traced run only). Call after [[drain]]. */
  def countsBySpan(): Map[Int, Counts] = synchronized {
    val out = mutable.Map.empty[Int, Counts]
    unattributedJobs = 0L
    jobCounts.foreach { case (job, c) =>
      c.writeJobMs =
        if (c.outputBytes > 0) jobTimes.get(job).map { case (b, e) => e - b }.getOrElse(0L) else 0L
      val owner = jobSpan.get(job).orElse(jobStream.get(job).flatMap(queryOwner.get))
      owner match {
        case Some(sp) => out.getOrElseUpdate(sp, new Counts) += c
        case None => unattributedJobs += 1
      }
    }
    out.toMap
  }

  /** Counters of the spans whose op id passes `keep`. */
  def sumOps(counts: Map[Int, Counts], keep: Long => Boolean): Counts = {
    val ops = allSpans.map(sp => sp.id -> sp.op).toMap
    val out = new Counts
    counts.foreach { case (id, c) => if (ops.get(id).exists(keep)) out += c }
    out
  }

  /** Jobs that carried no span (Spark work outside every measured call). */
  def unattributed: Long = synchronized(unattributedJobs)

  /** Spans as JSON lines, written when the benchmark ends. */
  def writeSpans(path: java.nio.file.Path, counts: Map[Int, Counts]): Unit = {
    val lines = allSpans.map { sp =>
      val c = counts.get(sp.id)
      Json.obj(Seq(
        "id" -> Json.num(sp.id), "name" -> Json.str(sp.name), "label" -> Json.str(sp.label),
        "parent" -> Json.num(sp.parent),
        "op" -> Json.num(sp.op), "start_ns" -> Json.num(sp.startNs), "end_ns" -> Json.num(sp.endNs),
        "failed" -> Json.bool(sp.failed)) ++
        c.toSeq.flatMap(c => Seq("jobs" -> Json.num(c.jobs), "tasks" -> Json.num(c.tasks),
          "task_cpu_ns" -> Json.num(c.cpuNs), "input_bytes" -> Json.num(c.inputBytes),
          "output_bytes" -> Json.num(c.outputBytes))))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Spark runs every micro-batch's jobs under job group = the query's runId. */
  val JobGroupKey = "spark.jobGroup.id"
  val BatchIdKey = "streaming.sql.batchId"

  def parseMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
}
