package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one process per run, one client issuing
  * one operation at a time (closed loop) against local[cores].
  *
  * Batch workloads (`--ops` lists registered query names in run order):
  * setup ends with one execution of every operation at the timed scale
  * factor, written to parquet for the output check; the timed passes
  * then construct each query and materialise it through the noop sink,
  * `--min-passes` counted passes, followed by uncounted ones until
  * `--seconds` have elapsed. The index workload
  * is [[Churn]]. With `--trace 1` the run also records spans and
  * counters ([[Tracer]]) and the per-layer probes. Everything measured
  * lands in one JSON record at `--out`; `bench/run.py` turns it into
  * metrics.
  */
object Main {

  /** Writes the run record; NaN stays a number (Python reads it). */
  private val json = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      ops: Seq[String], cores: Int, warmPasses: Int, minPasses: Int)

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m.get("ops").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil),
      m("cores").toInt, m("warm-passes").toInt, m("min-passes").toInt)
  }

  /** CPU time of the whole machine from /proc/stat (Linux), in jiffies:
    * (steal, total). Steal is time the hypervisor gave this machine's
    * virtual CPUs to others: host weather, not code. */
  private def cpuJiffies(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1)
          .map(_.toDouble)
        finally src.close()
      // user nice system idle iowait irq softirq steal [guest ...]
      (f.lift(7).getOrElse(0.0), f.take(8).sum)
    } catch { case _: Exception => (0.0, 0.0) }

  /** JVM-wide counters read around the setup and timed regions. */
  def jvmCounters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val hist = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    Map(
      "gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime.toDouble,
      "codegen_count" -> hist.getCount.toDouble,
      "codegen_mean_ms" -> hist.getSnapshot.getMean,
      "heap_used_mb" -> ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0,
      "cpu_steal_jiffies" -> cpuJiffies()._1,
      "cpu_total_jiffies" -> cpuJiffies()._2)
  }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val heap = new HeapPeak
    val spark = graft.Graft.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/local")
      .getOrCreate()
    graft.GraftExtensions.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val spans = if (c.trace) Some(new Spans) else None
    val tracer = spans.map { sp =>
      val t = new Tracer(spark, sp)
      sc.addSparkListener(t)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.externalCatalog.addListener(t)
      sp.onOpen = id => sc.setLocalProperty(Tracer.SpanProp, id.toString)
      t
    }
    val rec = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = c.workload
    rec("seed") = c.seed
    rec("cores") = c.cores
    rec("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
    rec("main_start_ms") = System.currentTimeMillis()
    rec("jvm_setup_start") = jvmCounters()

    val ops = new OpLog(spark, spans)
    val body: Workload =
      if (c.workload == "index_churn") new Churn(spark, c, ops)
      else new BatchQueries(spark, c, ops)

    // a failure that stops the run (an index build that throws) is
    // recorded and ends the run; run.py then reports it as incorrect
    def guarded(step: String)(f: => Unit): Boolean =
      try { f; true }
      catch { case e: Throwable =>
        rec("fatal") = s"$step: " +
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        false
      }

    val passes = ArrayBuffer.empty[Double]
    if (guarded("setup") {
        body.setup(rec)
        (1 to c.warmPasses).foreach(i => body.pass(-i))
      }) {
      org.apache.spark.graftbench.Drain(sc)
      rec("ready_ms") = System.currentTimeMillis()
      rec("jvm_timed_start") = jvmCounters()
      heap.armed = true
      ops.timing = true
      val t0 = System.nanoTime()
      var going = true
      while (going && passes.size < c.minPasses) {
        val p0 = System.nanoTime()
        going = guarded("pass")(body.pass(passes.size))
        if (going) passes += (System.nanoTime() - p0) / 1e9
      }
      ops.timing = false
      // a run without a GC in its passes still reports a heap figure:
      // the live set after one untimed full GC, a lower bound
      if (heap.peak == 0L) {
        System.gc()
        // GC notifications arrive on their own thread
        val until = System.nanoTime() + 2000000000L
        while (heap.peak == 0L && System.nanoTime() < until) Thread.sleep(10)
      }
      heap.armed = false
      rec("jvm_timed_end") = jvmCounters()
      rec("timed_s") = (System.nanoTime() - t0) / 1e9
      // --seconds is a floor on the run's measuring time, not the
      // sample size: every run counts exactly --min-passes passes, so
      // a faster pass never buys more samples (and a higher tail
      // percentile). Passes that run on to fill --seconds are checked
      // but not counted.
      var extra = 0
      while (going && (System.nanoTime() - t0) / 1e9 < c.seconds) {
        going = guarded("pass")(body.pass(c.minPasses + extra))
        extra += 1
      }
      rec("uncounted_passes") = extra
      // outputs are checked outside the timed region
      val c0 = System.nanoTime()
      if (going) guarded("check")(body.check(rec))
      rec("check_s") = (System.nanoTime() - c0) / 1e9
    }
    rec("passes") = passes.toSeq
    rec("heap_peak_mb") = heap.peak / 1048576.0
    rec("ops") = ops.records.toSeq
    rec("untimed_failures") = ops.untimedFailures.toSeq

    tracer.filter(_ => !rec.contains("fatal")).foreach { t =>
      Probes.all(spark, c, body.probeDir, rec)
      org.apache.spark.graftbench.Drain(sc)
      val roots = t.rootExecutions().groupBy(_._1).toSeq.map {
        case (op, xs) => Map("op" -> op, "name" -> "sql_executions",
          "value" -> xs.size.toLong) }
      rec("counters") = t.counters.asScala.toSeq.map { case ((op, k), v) =>
        Map("op" -> op, "name" -> k, "value" -> v.sum()) } ++ roots
      rec("cache_bytes_peak") = t.cachedPeak.get()
      rec("operator_ms") = t.operatorTimes().toSeq.map { case ((op, k), v) =>
        Map("op" -> op, "name" -> k, "ms" -> v) }
      val path = s"${c.work}/spans.jsonl"
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(path))
      try spans.get.all.asScala.foreach { s =>
        w.write(json.writeValueAsString(Map("id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
          "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs)))
        w.write("\n")
      } finally w.close()
      rec("spans") = path
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(c.out),
      json.writeValueAsString(rec))
    spark.stop()
  }
}

/** One workload: untimed setup (ends ready for the first timed
  * operation), one pass of timed operations, the output check. */
trait Workload {
  def setup(rec: scala.collection.mutable.Map[String, Any]): Unit
  def pass(i: Int): Unit
  def check(rec: scala.collection.mutable.Map[String, Any]): Unit
  /** Scale-factor directory the per-layer probes read. */
  def probeDir: String
}

/** Timed operations of a run. Each operation is a root span in traced
  * runs, and a record (start, end, ok) in every run. */
final class OpLog(spark: SparkSession, val spans: Option[Spans]) {
  @volatile var timing = false
  val records = ArrayBuffer.empty[Map[String, Any]]
  /** Failed operations of warm-up and uncounted passes. */
  val untimedFailures = ArrayBuffer.empty[Map[String, Any]]
  private val t00 = System.nanoTime()

  /** Run `f` as operation `name`; failures are recorded, not thrown. */
  def op(name: String, kind: String, pass: Int)(f: => Unit): Boolean = {
    val id = spans.map(_.newId()).getOrElse(0L)
    spans.foreach { sp =>
      sp.op = id
      sp.open = id
      spark.sparkContext.setLocalProperty(Tracer.OpProp, id.toString)
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, id.toString)
    }
    val t0 = System.nanoTime()
    val err = try { f; None }
      catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName)
          .take(300)) }
    val t1 = System.nanoTime()
    spans.foreach { sp =>
      sp.add(Span(id, 0L, "op", id, t0, t1,
        Map("op" -> name, "kind" -> kind, "pass" -> pass)))
      // untimed: let the op's asynchronous events (block updates) land
      // while it is still the current op
      org.apache.spark.graftbench.Drain(spark.sparkContext)
      sp.op = 0L
      sp.open = 0L
      spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, null)
    }
    if (timing) records += Map("op" -> name, "kind" -> kind,
      "pass" -> pass, "id" -> id, "t0" -> (t0 - t00), "t1" -> (t1 - t00),
      "ok" -> err.isEmpty, "err" -> err)
    else err.foreach(e => untimedFailures += Map("op" -> name,
      "pass" -> pass, "err" -> e))
    err.isEmpty
  }

  /** A child span of the running operation (traced runs only). */
  def span[T](name: String)(f: => T): T =
    spans.fold(f)(_.around(name)(f))
}

/** curate_batch: registered queries, constructed and
  * materialised through noop. */
final class BatchQueries(spark: SparkSession, c: Main.Conf, ops: OpLog)
    extends Workload {
  private val dir = s"${c.data}/sf0.1"
  def probeDir: String = dir
  private val queries = c.ops.map(n => n -> graft.SparkEntry.queries(n))

  /** Setup's last step: every query once at the timed scale factor,
    * its rows written for the oracle compare. This also warms the JIT
    * and the codegen cache on the timed inputs. */
  def setup(rec: scala.collection.mutable.Map[String, Any]): Unit = {
    val failed = ArrayBuffer.empty[Map[String, Any]]
    val leftovers = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def tables(): Long = spark.catalog.listTables().count()
    def files(): Long = Churn.dirStats(graft.Tables.scratchDir)._2
    queries.foreach { case (name, q) =>
      val (t0, f0) = (tables(), files())
      try q(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${c.work}/check/$name")
      catch { case e: Throwable =>
        failed += Map("op" -> name, "err" ->
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally spark.catalog.clearCache()
      // the batch workloads hold queries that persist nothing
      val left = (tables() - t0, files() - f0)
      if (left != ((0L, 0L))) leftovers(name) = Seq(left._1, left._2)
    }
    rec("leftovers") = leftovers
    rec("check_dir") = s"${c.work}/check"
    rec("batch_ops") = c.ops
    rec("oracle") = c.ops.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    rec("setup_failed") = failed.toSeq
  }

  /** (op, pass, rows) of every successful execution after setup. */
  private val passRows = ArrayBuffer.empty[Map[String, Any]]

  def pass(i: Int): Unit = queries.foreach { case (name, q) =>
    // counts the rows the noop sink receives, for the check after the
    // timed region
    val seen = org.apache.spark.sql.Observation("graftbench_rows")
    val ok = ops.op(name, "query", i) {
      val df = ops.span("ops.construct")(q(spark, dir))
      ops.span("ops.materialize")(df.observe(seen, count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save())
    }
    if (ok) passRows += Map("op" -> name, "pass" -> i,
      "rows" -> seen.get("n"))
    spark.catalog.clearCache()
  }

  /** The setup rows were written for run.py's oracle compare; the
    * later executions' row counts go with them. */
  def check(rec: scala.collection.mutable.Map[String, Any]): Unit =
    rec("pass_rows") = passRows.toSeq
}

/** Per-layer probes of the traced run: untimed, after the passes. */
object Probes {
  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def all(spark: SparkSession, c: Main.Conf, dir: String,
      rec: scala.collection.mutable.Map[String, Any]): Unit = {
    val p = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    p("tables.scan_s") = time(graft.Tables.names.foreach(n =>
      noop(graft.Tables.table(spark, dir, n))))
    val emb = graft.Tables.table(spark, dir, "embeddings")
    p("functions.dot_s") = time(noop(
      emb.limit(200).select(col("vec_id").as("q"), col("embedding").as("a"))
        .crossJoin(emb.select(col("embedding").as("b")))
        .select(expr("dot_product(a, b)").as("d"))))
    val docs = graft.Tables.table(spark, dir, "documents")
    val sets = docs.select(col("doc_id"), expr(
      "array_sort(array_distinct(transform(split(text, ' '), " +
        "w -> xxhash64(w))))").as("s"))
    p("functions.sorted_intersect_s") = time(noop(
      sets.limit(200).select(col("s").as("a"))
        .crossJoin(sets.select(col("s").as("b")))
        .select(expr("sorted_intersect_count(a, b)").as("n"))))
    p("functions.minhash_agg_s") = time {
      import spark.implicits._
      noop(graft.ops.DedupOps.shingleRows(spark, dir).as[(Long, String)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.MinHashAgg(4).toColumn).toDF())
    }
    p("functions.kmv_agg_s") = time {
      val kmv = udaf(new graft.functions.KmvAgg(128))
      noop(graft.Tables.table(spark, dir, "events")
        .select(col("event_type"), md5(col("event_id").cast("string"))
          .as("h"))
        .groupBy(col("event_type")).agg(kmv(col("h")).as("sk")))
    }
    val clips = spark.range(0L, 2000L, 1L, c.cores)
      .select(concat(lit("clips/clip_"), col("id"), lit(".mp4"))
        .as("path"))
    p("media.decode_frame_s") = time(noop(
      graft.media.Media.withSampledFrames(clips, "path", "first_mid_last")))
    p("media.detect_scenes_s") = time(noop(
      graft.media.Media.detectScenes(clips.limit(200), "path")))
    p("host.cpu_probe_s") = graft.Bench.driftProbe(spark)
    p("host.io_probe_s") = graft.Bench.ioProbe(spark)
    rec("probes") = p
  }
}
