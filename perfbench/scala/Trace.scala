package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: one SparkListener plus one
  * QueryExecutionListener, registered by the harness only when tracing
  * is on. It accumulates the layer counters of the operation in flight;
  * [[take]] returns them and starts the next operation. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val jobs = mutable.LinkedHashMap[Int, Array[Long]]()
  private val sqlStart = mutable.Map[Long, Long]()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val stageReads = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var skew = 0.0
  private var compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Array(e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_(1) = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.driver.stages", 1)
    stageReads.remove(e.stageInfo.stageId).foreach { r =>
      val s = r.sorted
      val med = s(s.length / 2)
      if (s.length >= 2 && med > 0) skew = math.max(skew, s.last.toDouble / med)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.exec.tasks", 1)
    if (e.reason != Success) add("spark.exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.exec.run_ms", m.executorRunTime)
      add("spark.exec.cpu_ms", m.executorCpuTime / 1e6)
      add("spark.exec.gc_ms", m.jvmGCTime)
      add("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spark.shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      if (m.shuffleReadMetrics.totalBytesRead > 0)
        stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          m.shuffleReadMetrics.totalBytesRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("spark.driver.aqe_replans", 1)
      case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        spans += Map("id" -> s"sql-${s.executionId}", "name" -> "sql",
          "start" -> sqlStart.remove(s.executionId).getOrElse(s.time), "end" -> s.time)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"spark.plan.${p}_ms", s.durationMs))
      }
      if (funcName == "collect") add("spark.driver.collect_ms", durationNs / 1e6)
      walk(qe.executedPlan, inCodegen = false)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
    case q: QueryStageExec => walk(q.plan, inCodegen)
    case _: ReusedExchangeExec => ()
    case i: InputAdapter => walk(i.child, inCodegen = false)
    case _ =>
      val wsc = inCodegen || p.isInstanceOf[WholeStageCodegenExec]
      val cls = p.getClass.getSimpleName
      if (cls.startsWith("FileSourceScan")) {
        add("tables.scan_ms", metric(p, "scanTime"))
        add("tables.scan_bytes", metric(p, "filesSize"))
        add("tables.files_read", metric(p, "numFiles"))
      }
      if (cls.startsWith("BroadcastExchange"))
        add("spark.driver.broadcast_build_ms", metric(p, "collectTime") + metric(p, "buildTime"))
      p.expressions.foreach(_.foreach(countExpr(_, wsc)))
      p.children.foreach(walk(_, wsc))
      p.subqueries.foreach(walk(_, inCodegen = false))
  }

  private def countExpr(x: Expression, wsc: Boolean): Unit = {
    val graftExpr = x.getClass.getName.startsWith("graft.")
    if (graftExpr) add("functions.graft_exprs", 1)
    if (x.isInstanceOf[CodegenFallback] || (graftExpr && !wsc))
      add("functions.interpreted_exprs", 1)
    if (x.isInstanceOf[LambdaFunction]) add("functions.hof_lambdas", 1)
  }

  /** Counters, job intervals and child spans of the operation that just
    * ended (the caller drains the listener bus first), then reset. */
  def take(): (Map[String, Double], Seq[(Long, Long)], Seq[Map[String, Any]]) = synchronized {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    add("spark.plan.codegen_compiles", compiles - compiles0)
    compiles0 = compiles
    add("spark.driver.jobs", jobs.size)
    add("spark.shuffle.skew", skew)
    val iv = jobs.values.map(a => (a(0), a(1))).toSeq
    val js = jobs.map { case (id, a) =>
      Map[String, Any]("id" -> s"job-$id", "name" -> "job", "start" -> a(0), "end" -> a(1))
    }
    val out = (c.toMap, iv, (spans ++ js).toSeq)
    c.clear(); jobs.clear(); spans.clear(); stageReads.clear(); sqlStart.clear(); skew = 0.0
    out
  }
}
