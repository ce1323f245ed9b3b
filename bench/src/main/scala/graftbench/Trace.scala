package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent,
  ExternalCatalogEventListener}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the trace. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    t0: Long, t1: Long, attrs: Map[String, Any])

/** Span store plus the running operation and the innermost open span
  * of the one client thread. Operation ids are the root spans' ids. */
final class Spans {
  val all = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(1)
  def newId(): Long = ids.getAndIncrement()
  @volatile var op: Long = 0L
  @volatile var open: Long = 0L
  /** Called with the id of each span as it opens and with its parent's
    * as it closes (the harness mirrors it into a job local property). */
  @volatile var onOpen: Long => Unit = _ => ()

  def add(s: Span): Unit = { all.add(s); () }

  /** Run `f` inside a span named `name` (child of the open span). */
  def around[T](name: String, attrs: => Map[String, Any] = Map.empty)
      (f: => T): T = {
    val id = newId()
    val parent = open
    open = id
    onOpen(id)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = parent
      onOpen(parent)
      add(Span(id, parent, name, op, t0, t1, attrs))
    }
  }
}

/** Task-output bytes, always on for the index workload (its
  * written-bytes ratio is an end-to-end metric). */
final class OutputBytes extends SparkListener {
  val bytes = new LongAdder
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(t.taskMetrics).foreach(m =>
      bytes.add(m.outputMetrics.bytesWritten))
}

/** Micro-batch progress, always on for the index workload (ingest
  * latency is an end-to-end metric there); in traced runs it also
  * emits one `streaming.batch` span per micro-batch. */
final class StreamProgress(spans: Option[Spans])
    extends StreamingQueryListener {
  /** Per non-empty micro-batch: its trigger, planning, addBatch and
    * commit times (ms), state rows and bytes, and input rows. */
  val batches = new ConcurrentLinkedQueue[Map[String, Double]]
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val ops = p.stateOperators
      val m = Map(
        "batch_ms" -> d("triggerExecution"),
        "planning_ms" -> d("queryPlanning"),
        "add_batch_ms" -> d("addBatch"),
        "commit_ms" -> (d("walCommit") + d("commitOffsets")),
        "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
        "rows" -> p.numInputRows.toDouble)
      batches.add(m)
      spans.foreach { sp =>
        val t0 = Tracer.nanosAt(
          java.time.Instant.parse(p.timestamp).toEpochMilli)
        sp.add(Span(sp.newId(), sp.open, "streaming.batch", sp.op, t0,
          t0 + (m("batch_ms") * 1e6).toLong, m))
      }
    }
  }
}

/** Peak heap in use right after each GC, from the JVM's GC
  * notifications (after-GC usage summed over the heap pools). */
final class HeapPeak {
  @volatile var peak = 0L
  @volatile var armed = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification,
          _: Any) => {
        if (armed && n.getType == com.sun.management
            .GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData
              .asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          if (used > peak) peak = used
        }
      }, null, null)
    case _ => ()
  }
}

/** The traced run's listeners: Spark jobs, stages and tasks, block
  * updates, SQL executions and catalog DDL, each attributed to the
  * operation whose id the harness put in the job's local properties
  * (or, for events without properties, to the running operation). */
final class Tracer(spark: SparkSession, val spans: Spans)
    extends SparkListener with ExternalCatalogEventListener {
  import Tracer._

  private final case class Job(span: Long, parent: Long, op: Long,
      t0: Long, stages: Int)
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Job]
  private val taskTimes =
    new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]
  /** (op, counter name) -> count. */
  val counters = new ConcurrentHashMap[(Long, String), LongAdder]
  private val cached = new ConcurrentHashMap[String, java.lang.Long]
  private val cachedNow = new AtomicLong(0)
  val cachedPeak = new AtomicLong(0)

  def count(op: Long, k: String, v: Long): Unit =
    counters.computeIfAbsent((op, k), _ => new LongAdder).add(v)

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(OpProp)))
      .map(_.toLong).getOrElse(spans.op)

  private def parentOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(spans.open)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val job = Job(spans.newId(), parentOf(j.properties),
      opOf(j.properties), nanosAt(j.time), j.stageIds.size)
    Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execOp.putIfAbsent(id.toLong, job.op))
    jobs.put(j.jobId, job)
    j.stageIds.foreach(id => stageJob.put(id, job))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.remove(j.jobId)).foreach { job =>
      spans.add(Span(job.span, job.parent, "spark.job", job.op, job.t0,
        nanosAt(j.time), Map("job_id" -> j.jobId,
          "stages" -> job.stages)))
      count(job.op, "jobs", 1)
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
    taskTimes.put(s.stageInfo.stageId, new ConcurrentLinkedQueue); ()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(taskTimes.get(t.stageId)).foreach(_.add(t.taskInfo.duration))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val t1 = i.completionTime.map(nanosAt).getOrElse(System.nanoTime())
    val t0 = i.submissionTime.map(nanosAt).getOrElse(t1)
    val job = Option(stageJob.remove(i.stageId))
    val op = job.map(_.op).getOrElse(spans.op)
    val m = i.taskMetrics
    val times = Option(taskTimes.remove(i.stageId))
      .map(_.asScala.map(_.longValue).toVector.sorted)
      .getOrElse(Vector.empty)
    val skew = if (times.size < 2) 1.0 else {
      val med = times(times.size / 2).toDouble
      if (med <= 0) 1.0 else times.last / med
    }
    val a: Map[String, Any] = if (m == null) Map("tasks" -> i.numTasks)
    else Map(
      "stage_id" -> i.stageId, "tasks" -> i.numTasks,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "input_rows" -> m.inputMetrics.recordsRead,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_rows" -> m.outputMetrics.recordsWritten,
      "shuffle_write_rows" -> m.shuffleWriteMetrics.recordsWritten,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "task_skew" -> skew)
    spans.add(Span(spans.newId(), job.map(_.span).getOrElse(0L),
      "spark.stage", op, t0, t1, a))
    count(op, "stages", 1)
    count(op, "tasks", i.numTasks.toLong)
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
    val u = b.blockUpdatedInfo
    if (u.blockId.isRDD) {
      val key = u.blockId.name
      val size = u.memSize + u.diskSize
      if (u.storageLevel.isValid && size > 0) {
        count(spans.op, "cache.blocks_put", 1)
        count(spans.op, "cache.bytes_put", size)
        val prev = Option(cached.put(key, size)).map(_.longValue)
          .getOrElse(0L)
        val now = cachedNow.addAndGet(size - prev)
        cachedPeak.accumulateAndGet(now, math.max)
      } else Option(cached.remove(key)).foreach(v =>
        cachedNow.addAndGet(-v.longValue))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      rootOf.put(x.executionId, x.rootExecutionId.getOrElse(x.executionId))
      ()
    case _ => ()
  }

  /** SQL execution id -> its root execution id. */
  private val rootOf = new ConcurrentHashMap[Long, Long]
  /** SQL execution id -> the operation of its first job. */
  private val execOp = new ConcurrentHashMap[Long, Long]

  /** (op, root execution id) of every root SQL execution that ran a
    * job. Command wrappers without jobs of their own nest their
    * children, so a root counts for the op of any job below it. */
  def rootExecutions(): Seq[(Long, Long)] =
    execOp.asScala.toSeq.map { case (id, op) =>
      (rootOf.asScala.getOrElse(id, id), op) }
      .groupBy(_._1).toSeq.map { case (root, xs) => (xs.head._2, root) }

  override def onEvent(e: ExternalCatalogEvent): Unit =
    if (!e.getClass.getSimpleName.contains("Pre"))
      count(spans.op, "catalog.ddl_ops", 1)

  /** Per-operator SQL metrics of every root execution, summed per
    * (op, operator name, metric name) over the op's executions. Only
    * timing metrics ("... time"), in ms. */
  def operatorTimes(): Map[(Long, String), Double] = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic
      .SparkSession].sharedState.statusStore
    val out = mutable.Map.empty[(Long, String), Double]
    rootExecutions().foreach { case (op, id) =>
      val values = try store.executionMetrics(id)
        catch { case _: Exception => Map.empty[Long, String] }
      val graph = try Some(store.planGraph(id))
        catch { case _: Exception => None }
      graph.foreach(_.allNodes.foreach { n =>
        n.metrics.filter(_.name.endsWith("time")).foreach { m =>
          values.get(m.accumulatorId).flatMap(parseMs).foreach { ms =>
            val k = (op, s"${n.name}: ${m.name}")
            out(k) = out.getOrElse(k, 0.0) + ms
          }
        }
      })
    }
    out.toMap
  }
}

object Tracer {
  private val nanoOffset =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** An event's wall-clock ms as a System.nanoTime instant: listener
    * events arrive asynchronously, so their own timestamps, not the
    * delivery time, bound the job and stage spans. */
  def nanosAt(ms: Long): Long = ms * 1000000L + nanoOffset

  val OpProp = "graftbench.op"
  val SpanProp = "graftbench.span"

  private val Dur = raw"([0-9][0-9.,]*) (ms|s|m|min|h)\b".r

  /** Total of a formatted SQL timing metric ("total (min, med, max)\n
    * 1.2 s (...)" or "12 ms"), in ms. */
  def parseMs(s: String): Option[Double] = {
    val line = s.split("\n").last
    Dur.findFirstMatchIn(line).map { m =>
      val v = m.group(1).replace(",", "").toDouble
      m.group(2) match {
        case "ms" => v
        case "s" => v * 1e3
        case "m" | "min" => v * 6e4
        case _ => v * 3.6e6
      }
    }
  }
}
