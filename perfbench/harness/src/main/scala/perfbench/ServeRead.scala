package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Quantize, Retrieval}
import graft.serve.{ApiServer, FinancialApi, ResultCache, SearchApi}
import graft.sources.FactStore

/** Workload `serve_read`: an HTTP mix against a live ApiServer with its
  * result caches on — `/search` (lexical, vector, hybrid, filtered) over
  * a BM25 store and a self-contained IVF-PQ store built from
  * `documents`/`embeddings`, and the `/financials` routes over a
  * FactStore filled through `EdgarIngest.ingest` from synthetic
  * CompanyFacts. One client sending requests back to back times the
  * server's per-request cost; the traced run sends the mix at the fixed
  * rates of config.json on one connection per core instead. Every
  * response is checked against a ledger computed in set-up. */
object ServeRead {

  /** Paths of one built deployment. */
  final case class Deployment(lex: String, vec: String, corpus: String, facts: String)

  /** Held-out documents the requests draw on: the first are the hot set,
    * the rest (more than the cache holds) the cold searches. */
  val Pool = 200
  /** Result-cache entries, fewer than the pool. */
  val CacheSize = 64
  /** Companies in the fact store, and tickers of the financials routes. */
  val Tickers = 4
  /** Ids of a filtered search's allow-list. */
  val AllowSize = 200
  /** How long an open-loop phase may take to send its backlog. */
  val DrainMs = 15000.0
  /** Requests of the closed loop per second of `--seconds`: 16 at 10 s,
    * two turns of the mix. */
  val ClosedRequestsPerS = 1.6
  /** Connections of the closed loop. One client: on a shared host, four
    * clients saturating every core read the neighbours' load as much as
    * the server's (their throughput spread half again as much over the
    * same runs); concurrency is measured by the traced run's fixed-rate
    * phases. */
  val ClosedConnections = 1

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cfg = ctx.config.get("serve_read")
    val corpus = Stores.hybridCorpus(ctx)
    val standing = corpus.filter(!Stores.heldOut)
    val dep = Deployment(ctx.dir("serve/lex"), ctx.dir("serve/vec"), ctx.dir("serve/corpus"),
      ctx.dir("serve/facts"))
    val heldOutF = Par.fork(corpus.filter(Stores.heldOut).orderBy("doc_id").collect().toSeq
      .map(r => Inputs.Doc(r.getLong(0), r.getString(1), r.getSeq[Float](2))))
    val corpusIdsF = Par.fork(standing.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq)
    val companiesF = Par.fork {
      val cos = Stores.companies(ctx, Tickers)
      Stores.fillFacts(ctx, cos, dep.facts, version = 0)
      cos
    }
    Seq(Par.fork(Stores.buildLex(standing, dep.lex)),
      Par.fork(Stores.buildVec(ctx, standing, dep.vec)),
      Par.fork(standing.select("doc_id", "embedding").write.parquet(dep.corpus))).foreach(_.get())
    val (heldOut, corpusIds, companies) = (heldOutF.get(), corpusIdsF.get(), companiesF.get())

    val tickers = companies.map(_.ticker)
    val mix = Inputs.Mix(classes = strings(cfg.get("mix")), tickers = tickers,
      metrics = Seq("revenue", "net_income"),
      compareSets = tickers.sliding(3, 2).map(_.toSeq).toSeq,
      allowed = corpusIds.take(AllowSize))
    val rates = doubles(cfg.get("rates"))
    val phaseShares = doubles(cfg.get("phase_shares"))
    // the closed loop's requests, or the traced run's fixed-rate phases
    val nClosed = math.max(1, math.round(ClosedRequestsPerS * ctx.seconds).toInt)
    val perPhase = rates.zip(phaseShares).map { case (r, s) =>
      math.max(1, math.round(r * s * ctx.seconds).toInt) }
    val pool = heldOut.take(Pool)
    val schedule = Inputs.serveRequests(pool, mix,
      if (ctx.traced) perPhase.sum else nClosed, ctx.seed)

    // the ledger: the expected answer of every distinct request in the
    // schedule, from in-process APIs that share no cache with the server;
    // computing it compiles every plan the server will run. Meanwhile the
    // hot requests go through the server's own search API, which leaves
    // them in its cache as on a server that has run a while.
    val retrieval = retrievalConf(dep)
    val searchCache = new ResultCache(CacheSize, 3600)
    val search = new SearchApi(spark, retrieval, Some(searchCache))
    val api = new FinancialApi(spark, () => FactStore.read(spark, dep.facts),
      new ResultCache(1000, 3600))
    val ledgerSearch = new SearchApi(spark, retrieval, None)
    val ledgerFin = new FinancialApi(spark, () => FactStore.read(spark, dep.facts),
      new ResultCache(1000, 3600))
    val warm = Par.fork(Par.map(distinct(schedule.filter(_.hot)), 2)(handle(search, api, _)))
    val ledger = buildLedger(schedule, ledgerSearch, ledgerFin, ctx.cpus)
    warm.get()
    ctx.out("setup_s") = ctx.nowMs / 1e3
    val server = new ApiServer(api, 0, enableCompression = false, search = Some(search)).start()
    try {
      // load from one process, at most nproc wide
      val conns = if (ctx.traced) ctx.cpus else ClosedConnections
      val load = new HttpLoad(server.boundPort, conns)
      ctx.out("connections") = conns
      def sample(r: load.Result) = Map(
        "kind" -> r.req.kind, "route" -> r.req.route, "hot" -> r.req.hot, "due_ms" -> r.dueMs,
        "sent_ms" -> r.sentMs.map(Double.box).orNull,
        "done_ms" -> r.doneMs.map(Double.box).orNull, "status" -> r.status,
        "ok" -> (r.status == 200 && r.sentMs.nonEmpty &&
          scala.util.Try(answer(r.body)).toOption.exists(a =>
            ledger.get(r.req.key).contains(a))))
      val gc0 = Proc.gcSeconds()
      if (!ctx.traced) ctx.out("closed") = load.closed(schedule, () => ctx.nowMs).map(sample)
      else {
        // one continuous schedule: the rate steps up phase by phase
        val start = ctx.nowMs + 50
        val phaseStart = rates.zip(perPhase).scanLeft(start) { case (t, (r, n)) =>
          t + n * 1000.0 / r }
        val due = rates.zip(perPhase).zip(phaseStart).flatMap { case ((rate, n), t0) =>
          (0 until n).map(j => t0 + j * 1000.0 / rate) }
        val results = load.open(schedule.zip(due), () => ctx.nowMs, DrainMs)
        def phaseOf(dueMs: Double) = phaseStart.lastIndexWhere(_ <= dueMs)
        ctx.out("phases") = rates.indices.map { i =>
          Map("phase" -> i, "rate" -> rates(i), "start_ms" -> phaseStart(i),
            "end_ms" -> phaseStart(i + 1),
            "requests" -> results.filter(r => phaseOf(r.dueMs) == i).map(sample))
        }
      }
      ctx.out("gc_s") = Proc.gcSeconds() - gc0
      ctx.out("cache") = searchCache.stats
      if (ctx.traced)
        ctx.out("decomposition") = decompose(ctx, load, heldOut.drop(pool.size), mix,
          ledgerSearch, api, dep, retrieval)
    } finally server.stop()
  }

  def retrievalConf(dep: Deployment) =
    SearchApi.RetrievalConf(lexStore = dep.lex, vecStore = dep.vec, corpusPath = Some(dep.corpus),
      idCol = "doc_id", textCol = "text", vecCol = "embedding",
      depth = 20, nProbe = Stores.NProbe, rerankDepth = 100, maxQueryTerms = 16, maxK = 100)

  /** One request per key, in key order. */
  private def distinct(reqs: Seq[Inputs.Req]): Seq[Inputs.Req] =
    reqs.groupBy(_.key).map(_._2.head).toSeq.sortBy(_.key)

  /** A response body as JSON with its `timestamp` removed: the part of an
    * answer that must repeat. */
  def answer(body: String): com.fasterxml.jackson.databind.JsonNode = {
    val n = Main.mapper.readTree(body)
    n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o.remove("timestamp")
      case _ =>
    }
    n
  }

  /** Expected answer of each distinct request, from the in-process
    * handlers on `threads` threads. */
  def buildLedger(reqs: Seq[Inputs.Req], search: SearchApi, fin: FinancialApi,
                  threads: Int): Map[String, com.fasterxml.jackson.databind.JsonNode] =
    Par.map(distinct(reqs), threads)(r =>
      r.key -> answer(handle(search, fin, r).body)).toMap

  /** The in-process handler the server runs for a request. */
  def handle(search: SearchApi, fin: FinancialApi, r: Inputs.Req): FinancialApi.Response =
    if (r.kind == "search") {
      val n = Main.mapper.readTree(r.body)
      search.search(n.get("text").asText, vector(n), n.get("k").asInt, n.get("mode").asText,
        Option(n.get("allowed_ids")).map(strings).getOrElse(Seq.empty))
    } else callApi(fin, r)

  def strings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  def doubles(n: com.fasterxml.jackson.databind.JsonNode): Seq[Double] =
    n.elements().asScala.map(_.asDouble).toSeq

  def vector(n: com.fasterxml.jackson.databind.JsonNode): Seq[Float] =
    Option(n.get("vector")).map(v => (0 until v.size).map(i => v.get(i).floatValue))
      .getOrElse(Seq.empty[Float])

  /** The in-process handler the server runs for a financial request. */
  def callApi(api: FinancialApi, r: Inputs.Req): FinancialApi.Response = r.route match {
    case "statement" =>
      api.financials(r.path.split('/')(2).takeWhile(_ != '?'), "annual", Inputs.Years, "json")
    case "metric" =>
      val parts = r.path.takeWhile(_ != '?').split('/')
      api.metric(parts(2), parts(3), "annual", Inputs.Years, "json")
    case "compare" => api.compare(r.body)
  }

  /** The traced run's per-request split: fresh requests (never in the
    * schedule, so uncached) sent one at a time, first over HTTP, then to
    * the in-process handler, then to the operators the handler composes,
    * each inside its own span; the observer attributes engine work to
    * the spans. Half the requests run before the observer is attached,
    * which gives the tracing overhead. */
  private def decompose(ctx: Ctx, load: HttpLoad, fresh: Seq[Inputs.Doc], mix: Inputs.Mix,
                        search: SearchApi, serverFin: FinancialApi,
                        dep: Deployment, conf: SearchApi.RetrievalConf): Map[String, Any] = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed)
    val docs = fresh.iterator
    // one request of every class but the hot set
    def reqs() = mix.classes.filter(_ != "hot").map { c =>
      if (Inputs.SearchModes.contains(c)) Inputs.searchReq(docs.next(), c, mix, hot = false)
      else {
        val keys = Inputs.financialsKeys(c, mix)
        Inputs.financialsReq(c, keys(rnd.nextInt(keys.size)), mix)
      }
    }
    def httpWall(r: Inputs.Req): Double = {
      if (r.kind == "financials") serverFin.cacheClear()
      val t0 = System.nanoTime()
      val (status, body) = load.call(r)
      require(status == 200, s"decomposition request failed: $status ${body.take(200)}")
      (System.nanoTime() - t0) / 1e6
    }
    val untraced = reqs().map(httpWall)
    val observer = new Observer(spark)
    observer.attach()
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def span[T](label: String)(body: => T): (T, Double) = {
      val s = System.currentTimeMillis(); val t0 = System.nanoTime()
      val out = body
      val ms = (System.nanoTime() - t0) / 1e6
      spans += Span(label, s, System.currentTimeMillis())
      (out, ms)
    }
    val rows = reqs().map { r =>
      val (_, http) = span(s"http.${r.route}")(httpWall(r))
      val (_, handler) = span(s"handler.${r.route}")(handle(search,
        new FinancialApi(spark, () => FactStore.read(spark, dep.facts), new ResultCache(10, 60)), r))
      val ops = components(ctx, r, conf, dep, span)
      Map("route" -> r.route, "kind" -> r.kind, "http_ms" -> http,
        "handler_ms" -> handler, "ops" -> ops)
    }
    val traced = rows.map(_("http_ms").asInstanceOf[Double])
    val work = observer.attribute(spans.toSeq)
    observer.detach()
    Map("rows" -> rows, "untraced_http_ms" -> untraced, "traced_http_ms" -> traced,
      "work" -> work.map { case (k, w) => k -> w.asMap })
  }

  /** The component calls of one request, each in its own span, as the
    * handler composes them: the store operators of the request's search
    * mode, or the fact-store probe and scan and the `Financials` query of
    * its route. `plan` is the part of the operator calls spent reaching
    * an executed plan. */
  private def components(ctx: Ctx, r: Inputs.Req, conf: SearchApi.RetrievalConf,
                         dep: Deployment, span: String => (=> Any) => (Any, Double))
      : Map[String, Double] = {
    val spark = ctx.spark
    var planMs = 0.0
    def run(label: String)(df: => DataFrame): (Array[Row], Double) = {
      val (rows, ms) = span(label) {
        val d = df
        val t0 = System.nanoTime()
        d.queryExecution.executedPlan
        planMs += (System.nanoTime() - t0) / 1e6
        d.collect()
      }
      (rows.asInstanceOf[Array[Row]], ms)
    }
    val ops = if (r.kind == "financials") {
      val ticker = r.path.split('/')(2).takeWhile(_ != '?')
      val facts = FactStore.read(spark, dep.facts)
      val (_, scanMs) = span("op.fact_scan") {
        facts.filter(col("ticker") === ticker).limit(1).count()
        FactStore.read(spark, dep.facts, Some(ticker)).count()
      }
      val one = facts.filter(col("ticker") === ticker)
      val (_, finMs) = run("op.financials")(r.route match {
        case "statement" => graft.queries.Financials.statement(one,
          FinancialApi.StatementMetrics, "annual", lastN = Some(Inputs.Years))
        case "metric" => graft.queries.Financials.metricSeries(one,
          r.path.takeWhile(_ != '?').split('/')(3), "annual", Inputs.Years)
        case "compare" =>
          val n = Main.mapper.readTree(r.body)
          graft.queries.Financials.compare(facts, n.get("metric").asText,
            strings(n.get("tickers")), "annual", Some(Inputs.Years))
      })
      Map("fact_scan" -> scanMs, "financials" -> finMs)
    } else searchComponents(ctx, r, conf, run)
    ops + ("plan" -> planMs)
  }

  /** The store operators the handler composes for a search request. */
  private def searchComponents(ctx: Ctx, r: Inputs.Req, conf: SearchApi.RetrievalConf,
                               run: String => (=> DataFrame) => (Array[Row], Double))
      : Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val n = Main.mapper.readTree(r.body)
    val qt = Seq((Long.MinValue, n.get("text").asText)).toDF("doc_id", "text")
    def qv = Seq((Long.MinValue, vector(n))).toDF("doc_id", "embedding")
    def lexical(k: Int) = run("op.lexical")(Retrieval.bm25TopKFromStore(spark, conf.lexStore,
      qt, "text", "doc_id", k, maxQueryTerms = conf.maxQueryTerms))
    def vectorLeg(k: Int) = run("op.vector")(Quantize.searchSelfContainedRefined(spark,
      conf.vecStore, qv, "doc_id", "embedding", spark.read.parquet(conf.corpusPath.get),
      "embedding", k, conf.nProbe, conf.rerankDepth))
    r.route match {
      case "lexical" => Map("lexical" -> lexical(10)._2)
      case "filtered" =>
        val allowed = strings(n.get("allowed_ids")).map(_.toLong).toDF("doc_id")
        Map("lexical" -> run("op.lexical")(Retrieval.bm25TopKFromStoreFiltered(spark,
          conf.lexStore, qt, allowed, "text", "doc_id", 10,
          maxQueryTerms = conf.maxQueryTerms))._2)
      case "vector" => Map("vector" -> vectorLeg(10)._2)
      case "hybrid" =>
        val (lex, lexMs) = lexical(conf.depth)
        val (vec, vecMs) = vectorLeg(conf.depth)
        // the fusion alone, over the two legs' collected rankings
        def frame(rows: Array[Row], idCol: String): DataFrame = rows.toSeq.map { x =>
          def num(c: String) = x.getAs[Any](c).asInstanceOf[Number].longValue
          (num("query_id"), num(idCol), num("rank"))
        }.toDF("query_id", "doc_id", "rank")
        val (_, fuseMs) = run("op.fuse")(Retrieval.rrfFuse(frame(lex, "doc_id"),
          frame(vec, "neighbor_id"), Retrieval.RRF_K0, 10))
        Map("lexical" -> lexMs, "vector" -> vecMs, "fuse" -> fuseMs)
    }
  }
}
