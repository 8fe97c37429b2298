package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A span the benchmark recorded around one call into the engine, on the
  * wall clock Spark stamps its events with. */
final case class Span(label: String, startMs: Long, endMs: Long)

/** Engine work attributed to one span label. */
final class Work {
  var jobs = 0L; var tasks = 0L; var exchanges = 0L; var codegenFallbacks = 0L
  def asMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "exchanges" -> exchanges, "codegen_fallbacks" -> codegenFallbacks)
}

/** The one observer of the traced run: a SparkListener (jobs, their
  * tasks, and the exchanges of each SQL execution's physical plan) and a
  * log appender counting
  * whole-stage-codegen fallbacks. Exchanges come from the listener bus,
  * not from a QueryExecutionListener: the serving API and the streams run
  * in sessions of their own, which a session-scoped listener registered
  * here would not see. It records timestamped events only;
  * [[attribute]] assigns them to the benchmark's spans afterwards, so a
  * job lands in the span that was open when it was submitted. Used only
  * with --trace 1; the untraced runs attach nothing. */
final class Observer(spark: SparkSession) {
  private final case class JobEv(timeMs: Long, jobId: Int, stageIds: Seq[Int])
  private final case class PlanEv(timeMs: Long, exchanges: Int)

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val tasks = new ConcurrentLinkedQueue[Int]() // stage id per ended task
  private val plans = new ConcurrentLinkedQueue[PlanEv]()
  private val fallbacks = new ConcurrentLinkedQueue[java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobEv(e.time, e.jobId, e.stageIds))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        plans.add(PlanEv(x.time, Observer.exchanges(x.sparkPlanInfo)))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e.stageId)
  }

  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      val thrown = Option(e.getThrown).map(t => String.valueOf(t.getMessage)).getOrElse("")
      if (Observer.isFallback(msg) || Observer.isFallback(thrown))
        fallbacks.add(e.getTimeMillis)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    Observer.CodegenLoggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Observer.CodegenLoggers.foreach(n => ctx.getConfiguration.removeLogger(n))
    ctx.updateLoggers()
  }

  /** Engine work per span label: each job goes to the span that was open
    * at its submission (the latest-starting one when spans nest), tasks
    * follow their job, plans and log events their timestamp. */
  def attribute(spans: Seq[Span]): Map[String, Work] = {
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    val sorted = spans.sortBy(_.startMs)
    def at(t: Long): Option[Span] =
      sorted.filter(s => s.startMs <= t && t <= s.endMs).lastOption
    val out = scala.collection.mutable.Map.empty[String, Work]
    def work(s: Span) = out.getOrElseUpdate(s.label, new Work)
    val stageOwner = scala.collection.mutable.Map.empty[Int, Span]
    jobs.asScala.foreach { j =>
      at(j.timeMs).foreach { s =>
        work(s).jobs += 1
        j.stageIds.foreach(id => stageOwner(id) = s)
      }
    }
    tasks.asScala.foreach(id => stageOwner.get(id).foreach(s => work(s).tasks += 1))
    plans.asScala.foreach(p => at(p.timeMs).foreach(s => work(s).exchanges += p.exchanges))
    fallbacks.asScala.foreach(t => at(t).foreach(s => work(s).codegenFallbacks += 1))
    out.toMap
  }
}

object Observer {
  /** Loggers that report whole-stage codegen falling back to interpreted
    * execution (compile failure, or generated code too large to JIT). */
  val CodegenLoggers: Seq[String] = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")

  def isFallback(msg: String): Boolean = {
    val m = msg.toLowerCase
    m.contains("codegen disabled") || m.contains("codegen was disabled") ||
      m.contains("grows beyond 64 kb")
  }

  /** Shuffle exchanges in a physical plan as the listener bus reports it. */
  def exchanges(plan: SparkPlanInfo): Int =
    (if (plan.nodeName.contains("Exchange") && !plan.nodeName.contains("Broadcast")) 1 else 0) +
      plan.children.map(exchanges).sum
}
