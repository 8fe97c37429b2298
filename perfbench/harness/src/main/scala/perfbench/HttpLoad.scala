package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/** HTTP load from one process on `conns` worker threads, one connection
  * each, in one of two shapes:
  *  - [[closed]]: each worker sends its next request as soon as its last
  *    one is answered, so the server sets the pace;
  *  - [[open]]: requests become due on a fixed schedule whatever the
  *    server's progress and go out in due order. When every worker is
  *    busy a due request waits, so its latency, timed from its due time,
  *    includes the stall. Requests still unsent `drainMs` after the last
  *    one fell due are dropped and reported with no sent or done time. */
final class HttpLoad(port: Int, conns: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .executor(Executors.newFixedThreadPool(conns, (r: Runnable) => {
      val t = new Thread(r, "perfbench-http"); t.setDaemon(true); t
    }))
    .build()

  /** One request's outcome; times in ms on the caller's clock. */
  final case class Result(req: Inputs.Req, dueMs: Double, sentMs: Option[Double],
                          doneMs: Option[Double], status: Int, body: String)

  def call(req: Inputs.Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
      .timeout(java.time.Duration.ofSeconds(60))
    val r =
      if (req.method == "POST")
        b.POST(HttpRequest.BodyPublishers.ofString(req.body))
          .header("Content-Type", "application/json").build()
      else b.GET().build()
    val resp = client.send(r, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  /** Send `req`, due at `due`, and record its outcome. */
  private def send(req: Inputs.Req, due: Double, clock: () => Double): Result = {
    val sent = clock()
    val (status, body) =
      try call(req) catch { case e: Exception => (-1, String.valueOf(e)) }
    Result(req, due, Some(sent), Some(clock()), status, body)
  }

  private def workers(body: () => Unit): Seq[Thread] = (0 until conns).map { _ =>
    val t = new Thread(() => body(), "perfbench-sender")
    t.setDaemon(true); t.start(); t
  }

  /** Send every request, in order, each worker taking the next as soon as
    * it is free. A request is due when it is sent. */
  def closed(reqs: Seq[Inputs.Req], clock: () => Double): Seq[Result] = {
    val queue = new ConcurrentLinkedQueue[Inputs.Req](reqs.asJava)
    val results = new ConcurrentLinkedQueue[Result]()
    workers { () =>
      var req = queue.poll()
      while (req != null) {
        results.add(send(req, clock(), clock))
        req = queue.poll()
      }
    }.foreach(_.join())
    results.asScala.toSeq.sortBy(_.dueMs)
  }

  /** Send each request at its due time (ms on `clock`). */
  def open(reqs: Seq[(Inputs.Req, Double)], clock: () => Double, drainMs: Double): Seq[Result] = {
    val queue = new LinkedBlockingQueue[(Inputs.Req, Double)]()
    val results = new ConcurrentLinkedQueue[Result]()
    @volatile var dispatching = true
    val senders = workers { () =>
      var item = queue.poll(50, TimeUnit.MILLISECONDS)
      while (item != null || dispatching || !queue.isEmpty) {
        if (item != null) results.add(send(item._1, item._2, clock))
        item = queue.poll(50, TimeUnit.MILLISECONDS)
      }
    }
    reqs.foreach { case (req, due) =>
      val wait = due - clock()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      queue.put((req, due))
    }
    val lastDue = reqs.map(_._2).maxOption.getOrElse(clock())
    while (!queue.isEmpty && clock() < lastDue + drainMs) Thread.sleep(5)
    val dropped = new java.util.ArrayList[(Inputs.Req, Double)]()
    queue.drainTo(dropped)
    dispatching = false
    senders.foreach(_.join())
    dropped.asScala.foreach { case (req, due) =>
      results.add(Result(req, due, None, None, 0, "")) }
    results.asScala.toSeq.sortBy(_.dueMs)
  }
}
