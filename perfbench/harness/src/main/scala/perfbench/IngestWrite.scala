package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Quantize, Retrieval}
import graft.streaming.{StreamingBm25Ingest, StreamingVectorIngest}

/** Workload `ingest_write`: one writer in a closed loop against the kinds
  * of stores `serve_read` reads. Each cycle lands one fixed-size parquet
  * file of held-out documents and drains it through StreamingBm25Ingest
  * and StreamingVectorIngest (one micro-batch each). Cycles come in
  * rounds of two: the first adds a refresh, where `EdgarIngest.ingest`
  * rewrites five synthetic companies (every other refresh with changed
  * facts); the second a maintenance step that deletes the oldest landed
  * documents from the BM25 store and compacts it, and tombstones them in
  * the vector store, so the live size stays steady. Held-out documents
  * are recycled under fresh ids once used. At the end, live counts must
  * equal ingested minus deleted, and probe searches on each store must
  * equal the answers computed from scratch over the live documents. */
object IngestWrite {

  final case class Op(kind: String, cycle: Int, wallMs: Double, rows: Long, traced: Boolean)

  /** Documents landed per cycle. */
  val BatchRows = 25
  /** Landed cycles kept live; older ones are deleted. */
  val LiveCycles = 2
  /** Synthetic companies in the fact store; a refresh rewrites five. */
  val Companies = 10
  /** Upper bound on cycles, which sizes the staged landing files. */
  val MaxCycles = 20

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = Stores.hybridCorpus(ctx)
    val base = corpus.filter(!Stores.heldOut).localCheckpoint()
    val held = corpus.filter(Stores.heldOut).orderBy("doc_id").localCheckpoint()
    val nHeld = held.count()
    val lex = ctx.dir("ingest/lex"); val vec = ctx.dir("ingest/vec")
    val facts = ctx.dir("ingest/facts")
    val companiesF = Par.fork {
      val cos = Stores.companies(ctx, Companies)
      Stores.fillFacts(ctx, cos, facts, version = 0)
      cos
    }
    val lexF = Par.fork(Stores.buildLex(base, lex))
    Stores.saveQuantizers(ctx, vec)
    // staged landing files: cycle c lands held-out batch c mod n under
    // ids shifted by generation, so recycled documents are new to the store
    val nBatches = math.max(1, (nHeld / BatchRows).toInt)
    val staging = ctx.dir("ingest/staging")
    spark.range(MaxCycles).withColumnRenamed("id", "cycle")
      .crossJoin(held.withColumn("__i", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")) - 1)))
      .filter(floor(col("__i") / BatchRows) === col("cycle") % nBatches &&
        col("__i") < nBatches * BatchRows)
      .select(col("cycle"),
        (col("doc_id") + floor(col("cycle") / nBatches) * 1000000L).as("doc_id"),
        col("text"), col("embedding"))
      .repartition(col("cycle"))
      .write.partitionBy("cycle").parquet(staging)
    // the vector store is stream-fed from empty: its first micro-batch,
    // still set-up, is the standing corpus
    val landing = Seq("lex", "vec").map { s =>
      val d = ctx.dir(s"ingest/landing-$s")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      s -> d
    }.toMap
    base.select("doc_id", "text", "embedding").coalesce(1).write
      .parquet(ctx.dir("ingest/landing-base"))
    stagedFiles(ctx.dir("ingest/landing-base")).foreach(f => java.nio.file.Files.copy(f,
      java.nio.file.Paths.get(landing("vec"), "base.parquet")))
    val schema = spark.read.parquet(staging).drop("cycle").schema
    def source(s: String) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing(s))
    val vecQ = StreamingVectorIngest.startSelfContained(
      source("vec").select("doc_id", "embedding"), "embedding", vec, ctx.dir("ingest/ckpt-vec"))
    vecQ.processAllAvailable()
    lexF.get()
    val lexQ = StreamingBm25Ingest.start(source("lex").select("doc_id", "text"), "text",
      "doc_id", lex, ctx.dir("ingest/ckpt-lex"))
    val companies = companiesF.get()
    val observer = if (ctx.traced) Some(new Observer(spark)) else None
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val landedBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val versions = Array.fill(companies.size)(0)
    var cycle = 0
    var deletedUpTo = 0 // cycles [0, deletedUpTo) are deleted
    var etlCalls = 0
    var measuring = false
    var traced = false
    var loopT0 = 0L
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    def op[T](kind: String, rows: Long)(body: => T): T = {
      val s = System.currentTimeMillis(); val t0 = System.nanoTime()
      val out = body
      if (measuring) ops += Op(kind, cycle, (System.nanoTime() - t0) / 1e6, rows, traced)
      if (traced) spans += Span(kind, s, System.currentTimeMillis())
      out
    }
    def ingest(): Unit = {
      val file = stagedFiles(s"$staging/cycle=$cycle").head
      if (measuring) landedBytes += java.nio.file.Files.size(file)
      landing.values.foreach(d =>
        java.nio.file.Files.copy(file, java.nio.file.Paths.get(d, f"c$cycle%05d.parquet")))
      op("ingest", BatchRows) { lexQ.processAllAvailable(); vecQ.processAllAvailable() }
    }
    def maintain(cycles: Int): Unit = {
      val doomed = landed(spark, staging, deletedUpTo until deletedUpTo + cycles)
      val n = doomed.count()
      op("lex_delete", n)(Retrieval.deleteFromBm25Store(spark, lex,
        doomed.select("doc_id", "text"), "text", "doc_id", epoch = deletedUpTo + 1))
      op("vec_tombstone", n)(Quantize.addTombstones(spark, vec, doomed.select("doc_id"), "doc_id"))
      op("lex_compact", n)(Retrieval.compactBm25Store(spark, lex))
      deletedUpTo += cycles
    }
    def refresh(): Unit = {
      val group = (etlCalls * 5 until etlCalls * 5 + 5).map(_ % companies.size)
      if (etlCalls % 2 == 1) group.foreach(i => versions(i) += 1)
      val docs = group.map(i => companies(i).ticker ->
        Inputs.companyFacts(companies(i), versions(i))).toMap
      op("etl", group.map(i => Inputs.factCount(companies(i))).sum) {
        // skip-unchanged stays off: its content signature sums 64-bit
        // hashes, which overflows under ANSI arithmetic and fails the call
        graft.sources.EdgarIngest.ingest(spark, group.map(companies(_).ticker), docs, facts)
      }
      etlCalls += 1
    }
    // one untimed cycle compiles the micro-batch plans; the fact fill above
    // compiled the refresh's
    ingest(); cycle += 1
    ctx.out("setup_s") = ctx.nowMs / 1e3

    val written = new FileTally(Seq(lex, vec))
    val gc0 = Proc.gcSeconds()
    measuring = true
    loopT0 = System.nanoTime()
    try {
      // whole rounds of two cycles — micro-batch and refresh, micro-batch
      // and maintenance — so every run times the same operations; a round
      // starts only while time is left, and a traced run adds one round
      // with the observer on
      var rounds = 0
      while (rounds == 0 || (elapsed < ctx.seconds && cycle + 2 < MaxCycles) ||
          (ctx.traced && !traced)) {
        if (ctx.traced && rounds > 0 && !traced) {
          observer.foreach(_.attach()); traced = true
        }
        ingest(); refresh(); written.scan(); cycle += 1
        // keep the newest landed cycles live, delete the rest
        ingest()
        if (cycle + 1 - deletedUpTo > LiveCycles) maintain(cycle + 1 - deletedUpTo - LiveCycles)
        written.scan(); cycle += 1
        rounds += 1
      }
    } finally { lexQ.stop(); vecQ.stop() }
    val measureS = elapsed
    ctx.out("measure_s") = measureS
    ctx.out("gc_s") = Proc.gcSeconds() - gc0
    ctx.out("ops") = ops.map(o => Map("kind" -> o.kind, "cycle" -> o.cycle,
      "wall_ms" -> o.wallMs, "rows" -> o.rows, "traced" -> o.traced)).toSeq
    ctx.out("progress") = Seq(("lex", lexQ), ("vec", vecQ)).flatMap { case (name, q) =>
      // the vector stream's batch 0 is the standing corpus, landed in set-up
      q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && !(name == "vec" && p.batchId == 0))
        .map { p =>
        Map("stream" -> name, "rows" -> p.numInputRows) ++
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue } }
    }
    ctx.out("backlog_files") = cycle - lexQ.recentProgress.count(_.numInputRows > 0)
    ctx.out("cycles") = cycle
    observer.foreach { o =>
      ctx.out("work") = o.attribute(spans.toSeq).map { case (k, w) => k -> w.asMap }
      o.detach()
      // the two halves of EdgarIngest.ingest, replayed on one company group
      val raw = spark.createDataFrame(companies.take(5).map(c =>
        (c.ticker, Inputs.companyFacts(c, 0)))).toDF("ticker", "json")
      val t0 = System.nanoTime()
      val flat = graft.sources.CompanyFacts.flatten(raw).localCheckpoint()
      val t1 = System.nanoTime()
      graft.sources.FactStore.write(flat, ctx.dir("ingest/etl-split"))
      val t2 = System.nanoTime()
      ctx.out("etl_split") = Map("etl_flatten_ms" -> (t1 - t0) / 1e6,
        "etl_write_ms" -> (t2 - t1) / 1e6)
    }

    val checkT0 = System.nanoTime()
    // completeness: live counts equal ingested minus deleted
    val live = base.select("doc_id", "text", "embedding")
      .union(landed(spark, staging, deletedUpTo until cycle)).localCheckpoint()
    val (cents, codebook) = Stores.quantizers(ctx)
    // the same probes answered from scratch over the live documents: the
    // plain BM25 formula, and IVF-PQ with the store's quantizers
    val probe = held.limit(3).localCheckpoint()
    val pt = probe.select(col("doc_id"), col("text"))
    val pv = probe.select(col("doc_id"), col("embedding"))
    def answer(df: DataFrame, idCol: String): Seq[String] =
      df.select(col("query_id"), col(idCol), col("rank")).collect().map(_.toString).sorted.toSeq
    // the live documents as parquet: the user bytes the stores hold
    val liveDir = ctx.dir("ingest/live")
    val wantF = Par.fork { live.write.parquet(liveDir); live.count() }
    val lexLiveF = Par.fork(Retrieval.liveStats(spark, lex).collect().head.getLong(0))
    val vecLiveF = Par.fork(spark.read.parquet(vec).select("doc_id").distinct()
      .join(Quantize.readTombstones(spark, vec, "doc_id"), Seq("doc_id"), "left_anti").count())
    val lexProbeF = Par.fork(
      answer(Retrieval.bm25TopKFromStore(spark, lex, pt, "text", "doc_id", 10), "doc_id") ==
        answer(Retrieval.bm25TopK(live, pt, "text", "doc_id", 10), "doc_id"))
    val vecProbeF = Par.fork(
      answer(StreamingVectorIngest.searchIngestedSelfContained(spark, vec, pv, "doc_id",
        "embedding", 10, Stores.NProbe), "neighbor_id") ==
        answer(Quantize.ivfPqSearch(pv, "doc_id", "embedding", live, "doc_id", "embedding",
          cents, "centroid_id", "cen_emb", codebook, "code_id", "cb_emb",
          Stores.Dims, Stores.Blocks, 10, Stores.NProbe), "neighbor_id"))
    val want = wantF.get()
    val checks = Map(
      "lex_live" -> (lexLiveF.get() == want), "vec_live" -> (vecLiveF.get() == want),
      "lex_probe" -> lexProbeF.get(), "vec_probe" -> vecProbeF.get())
    ctx.out("checks") = checks
    ctx.out("check_s") = (System.nanoTime() - checkT0) / 1e9
    ctx.out("storage") = Map(
      "written_bytes" -> written.bytesWritten,
      "store_bytes" -> written.currentBytes,
      "store_files" -> written.currentFiles,
      "live_bytes" -> new FileTally(Seq(liveDir)).currentBytes,
      "landed_bytes" -> landedBytes.sum,
      "live_docs" -> want)
  }

  private def stagedFiles(dir: String): Seq[java.nio.file.Path] =
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted

  private def landed(spark: org.apache.spark.sql.SparkSession, staging: String,
                     cycles: Range): DataFrame =
    spark.read.parquet(staging).filter(col("cycle").isin(cycles: _*))
      .select("doc_id", "text", "embedding")

  /** Bytes and data files under a set of store directories, and the bytes
    * of every file that appeared since the previous scan: the bytes the
    * stores wrote. */
  final class FileTally(roots: Seq[String]) {
    private val seen = scala.collection.mutable.Map.empty[String, Long]
    var bytesWritten = 0L
    private def files: Seq[(String, Long)] = roots.flatMap { r =>
      val root = java.nio.file.Paths.get(r)
      if (!java.nio.file.Files.exists(root)) Nil
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toSeq
    }
    files.foreach { case (p, n) => seen(p) = n }
    def scan(): Unit = files.foreach { case (p, n) =>
      if (!seen.get(p).contains(n)) { bytesWritten += n; seen(p) = n }
    }
    def currentBytes: Long = files.map(_._2).sum
    def currentFiles: Long = files.size.toLong
  }
}
