package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, made from the benchmark's own code.
  * Times are epoch milliseconds, so they line up with Spark's event
  * times. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val layer: String, val startMs: Long) {
  var endMs: Long = startMs
  def dur: Double = (endMs - startMs) / 1000.0
}

/** Per-job record from the SparkListener. */
final class Job(val id: Int, val span: Option[Int], val frame: Option[String],
                val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks: Long = 0L
  var taskMs, shuffleW, shuffleR, spill: Long = 0L
}

/** Tracing for the `--trace 1` run. Spans live in memory and are written
  * out when the run ends. Before each traced call the caller's Spark job
  * group is set to the span id; three listeners registered here then
  * attribute every job (and its stages and tasks), every query's planning
  * phases and every streaming progress report to a span. Each job is also
  * attributed to the graft module of the first `graft.*` frame in its
  * call site. When `enabled` is false, `span` is a plain call. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  /** (start ms, planning ms) of each finished query execution. */
  val planning = mutable.ArrayBuffer[(Long, Long)]()
  /** (batch start ms, addBatch, queryPlanning, walCommit ms, state rows). */
  val progress = mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  var blockPeak = 0L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, layer, System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Forget the cached-block peak (the timed phase starts). */
  def resetPeak(): Unit = synchronized { blockPeak = blockBytes }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toInt)
      val frame = e.stageInfos.headOption.flatMap(s =>
        s.details.split("\n").iterator.map(_.trim).find(_.startsWith("graft.")))
      val j = new Job(e.jobId, span, frame, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.shuffleW += m.shuffleWriteMetrics.bytesWritten
        j.shuffleR += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        blockBytes -= blocks.remove(key).getOrElse(0L)
        if (b.storageLevel.isValid) {
          val size = b.memSize + b.diskSize
          blocks(key) = size
          blockBytes += size
        }
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planning += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
          d("addBatch"), d("queryPlanning"), d("walCommit"),
          p.stateOperators.map(_.numRowsTotal).sum))
      }
  }

  def register(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- attribution ------------------------------------------------------

  /** The root span (an op or a setup/replay phase) of span `id`. */
  def root(id: Int): Span = {
    var s = spans(id)
    while (s.parent >= 0) s = spans(s.parent)
    s
  }

  def under(id: Int, ancestor: Int): Boolean = {
    var s = spans(id)
    while (s.id != ancestor && s.parent >= 0) s = spans(s.parent)
    s.id == ancestor
  }

  /** The jobs of root span `op`: those whose job group names a span under
    * it, plus (streaming) ungrouped jobs that started inside it — the
    * caller is blocked in the op, so those are the query's own jobs. */
  def jobsOf(op: Span): Seq[Job] = synchronized {
    jobs.values.filter { j =>
      j.span match {
        case Some(id) => id < spans.size && root(id).id == op.id
        case None => j.startMs >= op.startMs && j.startMs <= op.endMs
      }
    }.toSeq
  }

  def jobsUnder(s: Span): Seq[Job] = synchronized {
    jobs.values.filter(j => j.span.exists(id => id < spans.size && under(id, s.id))).toSeq
  }

  /** The module a job is charged to: the first `graft.*` frame of its
    * call site, else the layer of the span that ran it. */
  def moduleOf(j: Job): String = j.frame match {
    case Some(f) =>
      val part = f.split("\\.")(1)
      if (Tracer.Modules.contains(part)) part else "graft"
    case None => j.span.filter(_ < spans.size).map(spans(_)).map(_.layer).getOrElse("streaming")
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    (s.endMs - s.startMs - Tracer.unionMs(kids)) / 1000.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Spans as JSON lines, with self time. */
  def dump(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_s":${selfTime(s)}%.4f}"""
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Modules: Set[String] = Set("sources", "operators", "dedup", "text", "ann",
    "functions", "streaming")

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
