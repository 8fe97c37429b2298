package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Quantize, Retrieval}
import graft.sources.EdgarIngest

/** The store deployment `serve_read` reads and `ingest_write` writes:
  * a BM25 store and a self-contained IVF-PQ store (exact vectors in its
  * own sidecar) over the documents that have embeddings, and a FactStore
  * of synthetic companies. */
object Stores {
  /** IVF-PQ shape: coarse centroids and PQ codes are the first embeddings,
    * vectors are split into blocks, searches probe `NProbe` cells. */
  val Centroids = 8
  val Codes = 4
  val Dims = 64
  val Blocks = 4
  val NProbe = 2

  /** (doc_id, text, embedding) for every document with an embedding. */
  def hybridCorpus(ctx: Ctx): DataFrame = {
    val docs = graft.Tables.t(ctx.spark, ctx.data, "documents")
    val emb = graft.Tables.t(ctx.spark, ctx.data, "embeddings")
    docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
  }

  /** Documents kept out of the standing stores: query material for
    * `serve_read`, the stream for `ingest_write`. */
  def heldOut: Column = col("doc_id") % 8 === 3

  def buildLex(corpus: DataFrame, path: String): Unit =
    Retrieval.writeBm25Store(corpus.select("doc_id", "text"), "text", "doc_id", path,
      nBuckets = 64)

  /** Centroids and PQ codebook: the first vectors of `embeddings`. */
  def quantizers(ctx: Ctx): (DataFrame, DataFrame) = {
    val emb = graft.Tables.t(ctx.spark, ctx.data, "embeddings")
    (emb.filter(col("vec_id") < Centroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cen_emb")),
      emb.filter(col("vec_id") < Codes)
        .select(col("vec_id").as("code_id"), col("embedding").as("cb_emb")))
  }

  def buildVec(ctx: Ctx, corpus: DataFrame, path: String): Unit = {
    val (cents, codebook) = quantizers(ctx)
    Quantize.buildSelfContained(ctx.spark, corpus.select("doc_id", "embedding"),
      "doc_id", "embedding", cents, "centroid_id", "cen_emb", codebook, "code_id", "cb_emb",
      Dims, Blocks, residual = false, path)
  }

  /** The quantizers of a vector store that a stream will fill: a streamed
    * store must start empty, so only its quantizers are written. */
  def saveQuantizers(ctx: Ctx, path: String): Unit = {
    val (cents, codebook) = quantizers(ctx)
    Quantize.saveQuantizers(ctx.spark, path, cents, "centroid_id", "cen_emb",
      codebook, "code_id", "cb_emb", Quantize.StoreParams(Dims, Blocks, residual = false, "doc_id"))
  }

  /** The `n` customers with the most orders (ties by key) as companies,
    * with their order totals per calendar quarter. */
  def companies(ctx: Ctx, n: Int): Seq[Inputs.Company] = {
    val spark = ctx.spark
    val orders = graft.Tables.t(spark, ctx.data, "orders")
    val top = orders.groupBy("o_custkey").count()
      .orderBy(col("count").desc, col("o_custkey")).limit(n)
      .select(col("o_custkey").as("c_custkey"))
    val cust = graft.Tables.t(spark, ctx.data, "customer").join(top, "c_custkey")
      .select("c_custkey", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = orders.join(top, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .collect()
      .groupBy(_.getLong(0))
    cust.keys.toSeq.sorted.map { k =>
      Inputs.Company(f"C$k%05d", k, cust(k),
        q.getOrElse(k, Array.empty).map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq)
    }
  }

  /** Ingest the companies' CompanyFacts through one `EdgarIngest.ingest`
    * call. */
  def fillFacts(ctx: Ctx, cos: Seq[Inputs.Company], base: String,
                version: Int): Seq[EdgarIngest.EtlJob] =
    EdgarIngest.ingest(ctx.spark, cos.map(_.ticker),
      cos.map(c => c.ticker -> Inputs.companyFacts(c, version)).toMap, base)
}
