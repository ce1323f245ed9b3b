package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{SemanticDedupOps, TextOps, VectorIndexOps}
import graft.streaming.StreamingStages

/** index_churn: the write path of three persisted index families.
  *
  * Inputs (written by bench/gen.py from the seed, under
  * `<data>/churn/{docs,embs}`): a base, shard files in arrival order,
  * the rows to delete and a probe set. One pass:
  *   1. build the vector (IVF-PQ), semantic (SemDeDup) and novelty
  *      (n-gram) indexes on the base;
  *   2. stream the shard in, one file per micro-batch, through
  *      `StreamingStages.streamInto*Index` (the novelty stream passes
  *      through the stateful `StreamingStages.streamingDedup` stage);
  *   3. purge the delete set, then vacuum;
  *   4. serve the probe set.
  * The corpus (MinHash-band) family is left out: with it a run exceeds
  * the benchmark's time budget on a four-core host.
  * Every call is one operation. After the timed passes, each family's
  * served rows are compared with the same family's batch path over the
  * live rows.
  */
final class Churn(spark: SparkSession, c: Main.Conf, ops: OpLog)
    extends Workload {
  import Churn._

  private val progress = new StreamProgress(ops.spans)
  private val written = new OutputBytes
  spark.streams.addListener(progress)
  spark.sparkContext.addSparkListener(written)

  def probeDir: String = s"${c.data}/sf0.1"
  private val root = s"${c.work}/indexes"
  private var served: Map[String, Seq[String]] = Map.empty
  private val maintain = ArrayBuffer.empty[Double]
  private val stored = ArrayBuffer.empty[Long]
  private val files = ArrayBuffer.empty[Long]
  private val writtenBytes = ArrayBuffer.empty[Long]

  private final class In(dir: String) {
    private def read(kind: String, name: String): DataFrame =
      spark.read.parquet(s"$dir/$kind/$name.parquet")
    val docsBase: DataFrame = read("docs", "base").select("doc_id", "text")
    val embsBase: DataFrame = withNrm(read("embs", "base"))
    val docsDead: DataFrame = read("docs", "dead").select("doc_id", "text")
    val embsDead: DataFrame = read("embs", "dead").select("vec_id")
    val docsProbe: DataFrame =
      read("docs", "probe").select("doc_id", "text")
    val embsProbe: DataFrame =
      read("embs", "probe").select("vec_id", "embedding")
    def shardFiles(kind: String): Seq[java.io.File] =
      new java.io.File(s"$dir/$kind").listFiles().toSeq
        .filter(_.getName.startsWith("shard_")).sortBy(_.getName)
    def shards(kind: String): DataFrame = spark.read.parquet(
      shardFiles(kind).map(_.getPath): _*)
    /** Every row ever ingested, minus the delete set. */
    def docsLive: DataFrame = docsBase.unionByName(
      shards("docs").select("doc_id", "text"))
      .join(docsDead.select("doc_id"), Seq("doc_id"), "left_anti")
    def embsLive: DataFrame = embsBase.select("vec_id", "embedding")
      .unionByName(shards("embs").select("vec_id", "embedding"))
      .join(embsDead, Seq("vec_id"), "left_anti")
    /** A file stream over the shards, one file per micro-batch. The
      * staging copy keeps the stream's own directory free of the base,
      * dead and probe files. */
    def stream(kind: String, stage: String): DataFrame = {
      val d = new java.io.File(stage)
      d.mkdirs()
      shardFiles(kind).foreach { f =>
        val dst = new java.io.File(d, f.getName)
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        dst.setLastModified(f.lastModified())
      }
      spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
    }
  }

  private val timedIn = new In(s"${c.data}/churn")

  /** No warm-up pass: one costs as much as a timed pass, which the
    * run's time budget cannot pay, so every run's single timed pass
    * starts equally cold. */
  def setup(rec: scala.collection.mutable.Map[String, Any]): Unit = ()

  def pass(i: Int): Unit = {
    val w0 = written.bytes.sum()
    onePass(timedIn, i)
    serveAll(timedIn, i)
    org.apache.spark.graftbench.Drain(spark.sparkContext)
    writtenBytes += written.bytes.sum() - w0
  }

  /** Resets, builds, streams, purges and vacuums the three families. */
  private def onePass(in: In, i: Int): Unit = {
    Families.foreach(f =>
      graft.io.IndexLifecycle.resetPrefix(spark, f, s"$root/$f"))
    graft.io.IndexLifecycle.rmDir(noveltyVerdicts)
    val run = s"$root/run_$i"
    graft.io.IndexLifecycle.rmDir(run)

    def call(fam: String, step: String)(f: => Unit): Unit = {
      val ok = ops.op(s"$fam.$step", step, i)(
        ops.span(s"io.$fam.$step")(f))
      if (!ok) throw new IllegalStateException(
        s"index_churn: $fam.$step failed")
    }

    call("vector", "build")(VectorIndexOps.buildVectorIndex(spark,
      in.embsBase.select("vec_id", "embedding"),
      in.embsBase.select("vec_id", "embedding"), Vec, s"$root/$Vec/idx"))
    call("semantic", "build")(SemanticDedupOps.buildSemanticIndexTables(
      spark, in.embsBase, Sem, s"$root/$Sem/idx"))
    call("novelty", "build")(TextOps.writeNoveltyIndex(in.docsBase, Nov,
      s"$root/$Nov/idx"))

    call("vector", "append")(StreamingStages.streamIntoVectorIndex(spark,
      in.stream("embs", s"$run/vec_stream").select("vec_id", "embedding"),
      Vec, s"$root/$Vec/idx", s"$run/vec_ckpt").stop())
    call("semantic", "append")(StreamingStages.streamIntoSemanticIndex(
      spark, withNrm(in.stream("embs", s"$run/sem_stream")), Sem,
      s"$root/$Sem/idx", 8, s"$run/sem_ckpt").stop())
    call("novelty", "append") {
      // the stateful stage: exact-key dedup within the watermark
      val docs = in.stream("docs", s"$run/nov_stream")
        .select(col("doc_id"), col("text"),
          timestamp_micros((col("doc_id") + 1) * 1000000L).as("ts"))
      StreamingStages.streamIntoNoveltyIndex(spark,
        StreamingStages.streamingDedup(docs, "ts", Seq("doc_id"))
          .drop("ts"), Nov, 8, s"$run/nov_ckpt").stop()
    }

    val m0 = System.nanoTime()
    call("vector", "purge")(VectorIndexOps.deleteFromVectorIndex(spark,
      in.embsDead, Vec, s"$root/$Vec/idx"))
    call("semantic", "purge")(SemanticDedupOps.purgeSemanticIndex(spark,
      in.embsDead, Sem, s"$root/$Sem/idx"))
    call("novelty", "purge")(TextOps.purgeNoveltyIndex(spark, in.docsDead,
      Nov, 0L))
    call("vector", "vacuum")(VectorIndexOps.vacuumVectorIndex(spark, Vec,
      s"$root/$Vec/idx/codes_vacuumed"))
    call("semantic", "vacuum")(SemanticDedupOps.vacuumSemanticIndex(spark,
      Sem, s"$root/$Sem/idx/vacuumed"))
    call("novelty", "vacuum")(TextOps.vacuumNoveltyIndex(spark, Nov,
      s"$root/$Nov/idx/gramdf_vacuumed"))
    maintain += (System.nanoTime() - m0) / 1e9
    val dirs = Families.map(f => dirStats(s"$root/$f/idx")) :+
      dirStats(noveltyVerdicts)
    stored += dirs.map(_._1).sum
    files += dirs.map(_._2).sum
  }

  private def serveAll(in: In, i: Int): Unit = {
    var out = Map.empty[String, Seq[String]]
    def serve(fam: String)(f: => DataFrame): Unit = {
      var rows = Array.empty[Row]
      val ok = ops.op(s"$fam.serve", "serve", i)(
        ops.span(s"io.$fam.serve") { rows = f.collect() })
      if (!ok) throw new IllegalStateException(
        s"index_churn: $fam.serve failed")
      out += fam -> canon(rows)
    }
    serve("vector")(VectorIndexOps.searchVectorIndex(in.embsProbe,
      VectorIndexOps.readVectorIndex(spark, Vec), Nprobe))
    serve("semantic")(SemanticDedupOps.semanticIndexVerdicts(spark, Sem))
    serve("novelty")(TextOps.ingestNovelty(spark, in.docsProbe, Nov))
    served = out
  }

  /** Each family's batch path over the live rows, served the same way,
    * must return exactly the rows the churned index served. */
  def check(rec: scala.collection.mutable.Map[String, Any]): Unit = {
    val in = timedIn
    val chk = s"${c.work}/check"
    val expect = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[String]]
    // the codebooks are trained once, on the base, in both paths: the
    // batch path codes every live row against them in one pass
    val vec = VectorIndexOps.readVectorIndex(spark, Vec)
    expect("vector") = canon(VectorIndexOps.searchVectorIndex(in.embsProbe,
      vec.copy(codes = VectorIndexOps.codeVectors(in.embsLive, vec.coarse,
        vec.codebooks)), Nprobe))
    // likewise the semantic centroids: the batch path assigns every
    // live row against a copy of them and prunes
    graft.io.IndexLifecycle.resetPrefix(spark, "chk_sem", s"$chk/sem")
    graft.io.Sinks.bucketedTable(spark.table(
      s"${graft.io.IndexLifecycle.livePrefix(spark, Sem)}_semcents"),
      "chk_sem_semcents", "cid", 1, s"$chk/sem/semcents")
    SemanticDedupOps.ingestSemanticIndexAppend(spark, withNrm(in.embsLive),
      "chk_sem", s"$chk/sem")
    expect("semantic") = canon(
      SemanticDedupOps.semanticIndexVerdicts(spark, "chk_sem"))
    spark.sql("DROP TABLE IF EXISTS chk_nov_gramdf")
    TextOps.writeNoveltyIndex(in.docsLive, "chk_nov", s"$chk/nov")
    expect("novelty") = canon(TextOps.ingestNovelty(spark, in.docsProbe,
      "chk_nov"))
    rec("checks") = expect.toSeq.map { case (fam, want) =>
      val got = served.getOrElse(fam, Nil)
      Map("op" -> s"$fam.serve", "rows" -> got.size,
        "ok" -> (got == want && want.nonEmpty),
        "detail" -> (if (got == want) "" else
          s"served ${got.size} rows, batch path ${want.size}; first " +
            s"difference: ${got.diff(want).headOption.getOrElse("-")}"))
    }
    val plan = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    plan("maintain_s") = maintain.toSeq
    plan("stored_bytes") = stored.toSeq
    plan("stored_files") = files.toSeq
    plan("written_bytes") = writtenBytes.toSeq
    plan("ingest") = progress.batches.toArray.toSeq
    rec("churn") = plan
  }
}

object Churn {
  val Vec = "bench_vec"
  val Sem = "bench_sem"
  val Nov = "bench_nov"
  val Families: Seq[String] = Seq(Vec, Sem, Nov)
  /** IVF probe fan-out of the engine's gated search queries. */
  val Nprobe = 2

  /** Where streamIntoNoveltyIndex keeps its verdict table. */
  def noveltyVerdicts: String =
    s"${graft.Tables.scratchDir}/${Nov}_verdicts"

  /** (vec_id, embedding, nrm): the semantic family's input shape. */
  def withNrm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      expr("""CASE WHEN aggregate(embedding, 0e0,
          (a, x) -> a + CAST(x AS DOUBLE) * x) = 0e0 THEN 1e0
        ELSE sqrt(aggregate(embedding, 0e0,
          (a, x) -> a + CAST(x AS DOUBLE) * x)) END""").as("nrm"))

  /** Rows as sorted strings: an exact, order-free comparison. */
  def canon(df: DataFrame): Seq[String] = canon(df.collect())

  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map((r: Row) => r.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  /** (bytes, files) of the regular files under `path`. */
  def dirStats(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        val sizes = walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).toVector
        (sizes.sum, sizes.size.toLong)
      } finally walk.close()
    }
  }
}
