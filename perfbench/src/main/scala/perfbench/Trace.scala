package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExpandExec, GenerateExec, InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, timed from the benchmark's side. */
final case class Span(id: Long, trace: Long, parent: Long, name: String, start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Task metrics summed over the jobs one span ran. */
final class TaskSums {
  var jobs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def add(o: TaskSums): Unit = {
    jobs += o.jobs; runMs += o.runMs; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** What the executed plan of one query reports: rows out of the nodes that
  * multiply rows (joins, generators, expands) and its timing metrics summed
  * by node kind, milliseconds. */
final case class PlanStats(examined: Long, timeByNode: Map[String, Double])

/** Spans and the counters attached to them, kept in memory until the run ends.
  *
  * While a span is open the benchmark's thread carries a Spark job group named
  * after it, so a [[SparkListener]] can key every task's metrics to the span
  * that caused them. A [[QueryExecutionListener]] reads the final adaptive
  * plan of each finished query. Neither is registered in an untraced round.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val sums = new ConcurrentHashMap[Long, TaskSums]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanStats]()
  private var traceId = 0L
  var on = false

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong)

  private def sumsOf(span: Long): TaskSums = sums.computeIfAbsent(span, _ => new TaskSums)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        sumsOf(s).synchronized(sumsOf(s).jobs += 1)
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != 0L && m != null) {
        val t = sumsOf(s)
        t.synchronized {
          t.runMs += m.executorRunTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.diskBytesSpilled
        }
      }
    }
  }

  // delivered on the listener bus, after the query returned: the benchmark
  // drains the bus (settle) and then takes the last plan, its noop write
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(planStats(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(taskListener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def stop(): Unit = {
    sc.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  def newTrace(): Unit = traceId = ids.incrementAndGet()

  /** Times `body` as a span; untraced it only runs it. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption
      val s = Span(ids.incrementAndGet(), traceId, parent.map(_.id).getOrElse(0L), name, System.nanoTime())
      spans += s
      open.push(s)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        open.pop()
        parent match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The last span of this trace with this name. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(s => s.trace == traceId && s.name == name)

  private def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Task metrics of a span and everything under it. Listener events arrive
    * asynchronously, so callers drain the listener bus first ([[settle]]). */
  def sumsUnder(s: Span): TaskSums = {
    val t = new TaskSums
    (s +: descendants(s)).foreach(x => Option(sums.get(x.id)).foreach(t.add))
    t
  }

  /** Task time under a span over its wall time on local[4]'s four cores. */
  def coreUtil(s: Span): Double = sumsUnder(s).runMs / 1e3 / (s.seconds * 4)

  /** The plan of the last query that finished since the previous call. */
  def lastPlan(): Option[PlanStats] = {
    var last: Option[PlanStats] = None
    var p = plans.poll()
    while (p != null) { last = Some(p); p = plans.poll() }
    last
  }

  /** Wall time of `s` not covered by its direct children, seconds. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def settle(): Unit = org.apache.spark.ListenerBusDrain(sc)

  /** Every node of the executed plan, through adaptive wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** The operators fused into one whole-stage-codegen pipeline. */
  private def fused(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(fused)
  }

  /** Rows out of the row-multiplying nodes, and time by layer: each codegen
    * pipeline is one layer named after the operators fused into it (their own
    * timers run inside the pipeline's and are not counted again); other nodes
    * are layers of their own kind. */
  def planStats(root: SparkPlan): PlanStats = {
    val all = nodes(root)
    def rows(n: SparkPlan): Long = n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val examined = all.collect {
      case j: BaseJoinExec => rows(j)
      case g: GenerateExec => rows(g)
      case e: ExpandExec => rows(e)
    }.sum
    val stages = all.collect { case w: WholeStageCodegenExec => w -> fused(w.child) }
    val inside = stages.flatMap(_._2).toSet
    def ms(n: SparkPlan): Double = n.metrics.values.collect {
      case m if m.metricType == "timing" => m.value.toDouble
      case m if m.metricType == "nsTiming" => m.value / 1e6
    }.sum
    val time =
      stages.map { case (w, ops) => s"codegen[${ops.map(_.nodeName).distinct.mkString(",")}]" -> ms(w) } ++
        all.filterNot(n => inside(n) || n.isInstanceOf[WholeStageCodegenExec]).map(n => n.nodeName -> ms(n))
    PlanStats(examined, time.filter(_._2 > 0).groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** JSON lines of every span, with its self time, for the trace file. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    f"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}%.6f}"""
  }
}

object Trace {
  /** Generated-code compilations so far. The codegen source keeps compile
    * times only as a sampled histogram, so a delta of compilations times
    * [[codegenMeanMs]] is the compile time between two points. */
  def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenMeanMs(): Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}
