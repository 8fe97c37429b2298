package perfbench

/** Seeded input generators. Both are pure: they take rows the harness has
  * already read and a seed, and return requests or documents; neither
  * reads files or touches the network. */
object Inputs {

  /** A held-out document that serves as query material. */
  final case class Doc(id: Long, text: String, vec: Seq[Float])

  /** One request of the `serve_read` mix. `key` identifies the request
    * for the response ledger: equal keys must get equal answers. */
  final case class Req(kind: String, route: String, method: String, path: String,
                       body: String, key: String, hot: Boolean)

  /** The request classes of the mix, in config.json's order, and what
    * their requests draw on. */
  final case class Mix(classes: Seq[String], tickers: Seq[String], metrics: Seq[String],
                       compareSets: Seq[Seq[String]], allowed: Seq[Long])

  val SearchModes: Seq[String] = Seq("lexical", "vector", "hybrid", "filtered")
  val K = 10
  /** Words of a document's text that make a query. */
  val QueryWords = 6
  /** Years of history a financials request asks for. */
  val Years = 5

  private def q(s: String): String = "\"" + graft.sources.Serve.jsonEscape(s) + "\""

  /** The search request for `doc` in `mode` (`filtered` is lexical search
    * fenced by the mix's allow-list). */
  def searchReq(doc: Doc, mode: String, mix: Mix, hot: Boolean): Req = {
    val text = doc.text.split("\\s+").take(QueryWords).mkString(" ")
    val vec = doc.vec.mkString("[", ",", "]")
    val (wireMode, fields) = mode match {
      case "lexical" => ("lexical", "")
      case "vector" => ("vector", s""","vector":$vec""")
      case "hybrid" => ("hybrid", s""","vector":$vec""")
      case "filtered" => ("lexical",
        s""","allowed_ids":${mix.allowed.map(i => q(i.toString)).mkString("[", ",", "]")}""")
    }
    val body = s"""{"text":${q(text)},"k":$K,"mode":"$wireMode"$fields}"""
    Req("search", mode, "POST", "/search", body, s"search|$mode|${doc.id}", hot)
  }

  /** The hot set: one request per search mode on the first pool
    * documents. Set-up leaves them in the server's result cache. */
  def hotSet(pool: Seq[Doc], mix: Mix): Seq[Req] =
    SearchModes.zip(pool).map { case (m, d) => searchReq(d, m, mix, hot = true) }

  /** Every distinct request of a financials route: (ticker or compare
    * set, metric) pairs. */
  def financialsKeys(route: String, mix: Mix): Seq[(Int, String)] = route match {
    case "statement" => mix.tickers.indices.map(_ -> "")
    case "metric" => for (t <- mix.tickers.indices; m <- mix.metrics) yield t -> m
    case "compare" => for (s <- mix.compareSets.indices; m <- mix.metrics) yield s -> m
  }

  def financialsReq(route: String, key: (Int, String), mix: Mix): Req = {
    val (i, m) = key
    route match {
      case "statement" => Req("financials", route, "GET",
        s"/financials/${mix.tickers(i)}?years=$Years", "", s"fin|statement|$i", hot = false)
      case "metric" => Req("financials", route, "GET",
        s"/financials/${mix.tickers(i)}/$m?years=$Years", "", s"fin|metric|$i|$m", hot = false)
      case "compare" => Req("financials", route, "POST", "/financials/compare",
        s"""{"tickers":${mix.compareSets(i).map(q).mkString("[", ",", "]")},""" +
          s""""metric":"$m","years":$Years}""", s"fin|compare|$i|$m", hot = false)
    }
  }

  /** `n` requests of the `serve_read` mix. Every class has an equal share
    * and the classes take turns, so every seed sends the same sequence of
    * classes and load follows one pattern; the seed picks the documents
    * and financials keys. `hot` repeats a hot-set request, which the
    * result cache holds. Cold searches draw the other pool documents, and
    * each financials route its keys, in a seeded order without
    * replacement (cycling only once all are used), so no request repeats
    * by chance. The first `m` requests do not depend on `n`. */
  def serveRequests(pool: Seq[Doc], mix: Mix, n: Int, seed: Long): Seq[Req] = {
    val rnd = new scala.util.Random(seed)
    val hot = hotSet(pool, mix)
    def cycled[T](xs: Seq[T]): Iterator[T] = {
      val order = rnd.shuffle(xs)
      Iterator.continually(order).flatten
    }
    val cold = cycled(pool.drop(hot.size))
    val keys = Seq("statement", "metric", "compare")
      .map(r => r -> cycled(financialsKeys(r, mix))).toMap
    (0 until n).map(i => mix.classes(i % mix.classes.size)).map {
      case "hot" => hot(rnd.nextInt(hot.size))
      case m if SearchModes.contains(m) => searchReq(cold.next(), m, mix, hot = false)
      case r => financialsReq(r, keys(r).next(), mix)
    }
  }

  /** A company's yearly and quarterly amounts, in cents. */
  final case class Company(ticker: String, cik: Long, name: String,
                           quarters: Seq[(Int, Int, Long)])

  /** Fact rows [[companyFacts]] yields for a company: eight yearly
    * concepts, and revenue and net income per quarter. */
  def factCount(c: Company): Long =
    8L * c.quarters.map(_._1).distinct.size + 2L * c.quarters.size

  /** CompanyFacts JSON (the SEC wire shape EdgarIngest.ingest fetches) for
    * one company. Revenue is the company's order total per period; the
    * other concepts are fixed fractions of it, shifted by `version` so a
    * refresh can change a company's facts. */
  def companyFacts(c: Company, version: Int): String = {
    val years = c.quarters.groupBy(_._1).toSeq.sortBy(_._1)
    def usd(cents: Long) = BigDecimal(cents) / 100
    def entry(fy: Int, fp: String, v: BigDecimal, start: String, end: String,
              form: String, instant: Boolean) = {
      val dates = if (instant) s""""instant":"$end"""" else s""""start":"$start","end":"$end""""
      s"""{$dates,"val":$v,"fy":$fy,"fp":"$fp","form":"$form"}"""
    }
    def annual(f: Long => BigDecimal, instant: Boolean) = years.map { case (y, qs) =>
      entry(y, "FY", f(qs.map(_._3).sum), s"$y-01-01", s"$y-12-31", "10-K", instant)
    }
    def quarterly(f: Long => BigDecimal) = c.quarters.sortBy(q => (q._1, q._2)).map {
      case (y, qn, cents) =>
        val (sm, em, ed) = Seq(("01", "03", "31"), ("04", "06", "30"),
          ("07", "09", "30"), ("10", "12", "31"))(qn - 1)
        entry(y, s"Q$qn", f(cents), s"$y-$sm-01", s"$y-$em-$ed", "10-Q", instant = false)
    }
    val bump = 1 + version % 7
    def concept(tag: String, label: String, entries: Seq[String]) =
      s""""$tag":{"label":${q(label)},"description":${q(label)},""" +
        s""""units":{"USD":${entries.mkString("[", ",", "]")}}}"""
    val gaap = Seq(
      concept("Revenues", "Revenues",
        annual(v => usd(v), instant = false) ++ quarterly(v => usd(v))),
      concept("GrossProfit", "Gross Profit", annual(v => usd(v * (40 + bump) / 100), instant = false)),
      concept("OperatingIncomeLoss", "Operating Income (Loss)",
        annual(v => usd(v * (15 + bump) / 100), instant = false)),
      concept("NetIncomeLoss", "Net Income (Loss)",
        annual(v => usd(v * (10 + bump) / 100), instant = false) ++
          quarterly(v => usd(v * (10 + bump) / 100))),
      concept("Assets", "Assets", annual(v => usd(v * 3 + bump), instant = true)),
      concept("Liabilities", "Liabilities", annual(v => usd(v * 2), instant = true)),
      concept("StockholdersEquity", "Stockholders Equity", annual(v => usd(v + bump), instant = true)),
      concept("CashAndCashEquivalentsAtCarryingValue", "Cash and Cash Equivalents",
        annual(v => usd(v / 5), instant = true)))
    s"""{"cik":${c.cik},"entityName":${q(c.name)},"facts":{"us-gaap":{${gaap.mkString(",")}}}}"""
  }
}
