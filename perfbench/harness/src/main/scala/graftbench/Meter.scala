package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into the program. `counts` holds what Spark
  * did while the span was the innermost open one (its self counts). */
final class Span(val id: Long, val name: String, val parent: Long, val run: String) {
  var start: Long = 0L
  var end: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def secs: Double = (end - start) / 1e9
}

/** The benchmark's trace recorder: a `SparkListener` plus a
  * `QueryExecutionListener` whose events are attributed to spans.
  *
  * Every span runs under its own Spark job group, so job, stage and task
  * events go to the span whose group launched them; SQL-execution
  * events (Catalyst phases, scans, writes) go to the innermost open
  * span. The bus is drained at every span boundary, so no event lands in
  * a later span. Spans stay in memory until the run ends.
  */
final class Meter(spark: SparkSession, run: String) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var stack: List[Span] = Nil
  private var nextId = 0L
  private val root = open("run")

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def open(name: String): Span = {
    nextId += 1
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), run)
    s.start = System.nanoTime()
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    s
  }

  /** Time `body` as a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T = {
    drain()
    val s = open(name)
    sc.setJobGroup(s"span-${s.id}", name)
    val gc0 = gcMs()
    try body
    finally {
      drain()
      s.end = System.nanoTime()
      s.counts("jvm.gc_s") += (gcMs() - gc0) / 1e3
      stack = stack.tail
      stack.headOption match {
        case Some(p) if p ne root => sc.setJobGroup(s"span-${p.id}", p.name)
        case _ => sc.clearJobGroup()
      }
    }
  }

  def drain(): Unit = GraftBenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq.filter(_ ne root)

  /** Spans whose ancestors include `s` (itself included). */
  def subtree(s: Span): Seq[Span] = {
    val ids = mutable.Set(s.id)
    spans.toSeq.filter { x =>
      val in = ids.contains(x.id) || ids.contains(x.parent)
      if (in) ids += x.id
      in
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private def current: Span = stack.head

  private def groupSpan(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-"))
      .flatMap(g => Option(byId.get(g.stripPrefix("span-").toLong)))
      .getOrElse(current)

  // ------------------------------------------------------------ listener
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = groupSpan(e.properties)
    s.counts("spark.jobs") += 1
    e.stageIds.foreach(id => stageSpan.put(id, s))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = Option(stageSpan.get(e.stageInfo.stageId)).getOrElse(current)
    val c = s.counts
    c("spark.stages") += 1
    c("spark.tasks") += e.stageInfo.numTasks
    Option(e.stageInfo.taskMetrics).foreach { m =>
      c("spark.task_run_s") += m.executorRunTime / 1e3
      c("spark.task_cpu_s") += m.executorCpuTime / 1e9
      c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("shuffle.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("io.input_bytes") += m.inputMetrics.bytesRead
      c("io.input_records") += m.inputMetrics.recordsRead
      c("io.output_bytes") += m.outputMetrics.bytesWritten
      c("io.output_records") += m.outputMetrics.recordsWritten
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = Option(stageSpan.get(e.stageId)).getOrElse(current)
    s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) {
      val c = current.counts
      c("staging.rdd_blocks") += 1
      c("staging.rdd_bytes") += info.memSize + info.diskSize
    }
  }

  // ------------------------------------------------------- SQL executions
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val c = current.counts
    c("spark.sql_executions") += 1
    val ph = qe.tracker.phases
    c("catalyst.analysis_s") += ph.get("analysis").map(_.durationMs).getOrElse(0L) / 1e3
    c("catalyst.optimization_s") += ph.get("optimization").map(_.durationMs).getOrElse(0L) / 1e3
    c("catalyst.planning_s") += ph.get("planning").map(_.durationMs).getOrElse(0L) / 1e3
    c("catalyst.graft_rules_s") += qe.tracker.rules.collect {
      case (rule, r) if rule.startsWith("graft.plans.") => r.totalTimeNs
    }.sum / 1e9
    val plans = Seq(qe.executedPlan) ++ (qe.commandExecuted match {
      case r: CommandResult => Seq(r.commandPhysicalPlan)
      case _ => Nil
    })
    val all = plans.flatMap(nodes)
    all.foreach {
      case b: BatchScanExec if b.scan.getClass.getName.endsWith("PagedScan") =>
        c("extract.pages") += b.inputPartitions.size
        c("extract.rows") += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => ()
    }
    if (all.exists(_.isInstanceOf[DataWritingCommandExec])) {
      c("io.write_executions") += 1
      c("io.write_s") += durationNs / 1e9
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  // a failed execution's lazy plans would run again if touched: count it only
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    current.counts("spark.sql_executions") += 1

  /** Wall time of `op` during which none of its subtree's tasks ran. */
  def driverOnlySecs(op: Span): Double = {
    val ivs = subtree(op).flatMap(_.taskIntervals).sortBy(_._1)
    var busy = 0L
    var (curS, curE) = (0L, 0L)
    ivs.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    busy += curE - curS
    math.max(0.0, op.secs - busy / 1e3)
  }
}
