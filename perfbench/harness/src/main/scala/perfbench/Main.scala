package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What a workload needs from the run: its arguments, the session, the
  * benchmark's fixed settings and a place to put its raw samples. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val data: String, val work: String,
                val config: JsonNode, val spark: SparkSession,
                val t0Ns: Long) {
  /** Raw samples, written as JSON for run.py to reduce. */
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val cpus: Int = spark.sparkContext.defaultParallelism
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def dir(name: String): String = {
    val d = java.nio.file.Paths.get(work, name)
    java.nio.file.Files.createDirectories(d.getParent)
    d.toString
  }
}

/** Entry point of one benchmark run: one JVM, one Spark session, one
  * workload. Writes `samples.json` into the work directory and prints
  * nothing on stdout that run.py parses.
  *
  * Arguments: --workload --seed --seconds --trace --data --work --config. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val workload = opt("workload")
    val config = mapper.readTree(new java.io.File(opt("config")))
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors())
      .config("spark.ui.enabled", "false")
      // concurrent HTTP handlers share the cores instead of queueing
      // whole jobs behind each other — the serving deployment's choice
      .config("spark.scheduler.mode", if (workload == "serve_read") "FAIR" else "FIFO")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("data"), opt("work"), config, spark, t0)
    ctx.out("session_s") = (System.nanoTime() - t0) / 1e9
    try {
      workload match {
        case "serve_read" => ServeRead.run(ctx)
        case "ingest_write" => IngestWrite.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.out("rss_peak_mb") = Proc.rssPeakMb()
      mapper.writeValue(new java.io.File(opt("work"), "samples.json"), ctx.out)
    } finally spark.stop()
  }
}

/** Concurrent calls into the engine. Set-up work is many small Spark jobs
  * that leave cores idle between them; independent steps run at once. */
object Par {
  private val pool = java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
    val t = new Thread(r, "perfbench-par"); t.setDaemon(true); t
  })

  /** Start `body` on its own thread; `get()` waits for it and rethrows. */
  def fork[T](body: => T): java.util.concurrent.Future[T] = pool.submit(() => body)

  /** `f` over `xs` on at most `threads` threads, results in order. */
  def map[T, R](xs: Seq[T], threads: Int)(f: T => R): Seq[R] = {
    val limit = new java.util.concurrent.Semaphore(threads)
    xs.map(x => fork { limit.acquire(); try f(x) finally limit.release() }).map(_.get())
  }
}

/** Process-level readings of the engine JVM. */
object Proc {
  /** Peak resident set size (VmHWM) of this process, in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Total garbage-collection time of this process so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
