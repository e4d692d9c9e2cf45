package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Layer attribution: a Spark action belongs to the innermost `graft.*`
 * frame of its call site (class and method). Layer names follow the
 * package/object that owns the work; anything the table does not map is
 * `other`, so a missing mapping shows up in the numbers.
 */
object Layers {
  val Frontier = "crawl.frontier"
  val all: Seq[String] = Seq(Frontier, "crawl.seenset", "crawl.snapshots", "daemon",
    "sinks", "calendar", "streaming", "queries", "other")

  private val frontierObjects = Set("Crawl", "TempDirs", "UrlGrammar", "SyntheticWeb",
    "Robots", "ThrottledFetch", "Retry", "Sites", "Sso")
  private val sinkObjects = Set("SiteJson", "Rss", "Report", "Publish")
  private val queryPackages = Seq("graft.operators.", "graft.functions.", "graft.parse.",
    "graft.sources.", "graft.model.")

  def of(cls: String, method: String): String = {
    // graft.crawl.SeenSet$IncrementalSketch -> graft.crawl.SeenSet
    val owner = cls.split('$').head
    val pkg = owner.substring(0, owner.lastIndexOf('.') + 1)
    val obj = owner.substring(owner.lastIndexOf('.') + 1)
    (pkg, obj) match {
      case ("graft.crawl.", "Snapshots") => "crawl.snapshots"
      case ("graft.crawl.", "SeenSet") => "crawl.seenset"
      case ("graft.crawl.", "Pipeline") => if (method == "runCalendar") "calendar" else "daemon"
      case ("graft.crawl.", o) if frontierObjects(o) => Frontier
      case ("graft.sinks.", "Ics") => "calendar"
      case ("graft.sinks.", o) if sinkObjects(o) => "sinks"
      case ("graft.", "Daemon") => "daemon"
      case ("graft.", "SparkEntry") => "queries"
      case ("graft.streaming.", _) => "streaming"
      case (p, _) if queryPackages.contains(p) => "queries"
      case _ => "other"
    }
  }

  // a call-site line, optionally prefixed by a class-loader/module tag
  private val frame = """(?:^|/)(graft\.[\w.$]+)\.([\w$]+)\(""".r
  private val anon = """\$anonfun\$(\w+?)\$\d+.*""".r

  /** Layer of the innermost `graft.*` frame of a long-form call site. */
  def ofCallSite(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.split('\n').iterator.flatMap(l => frame.findFirstMatchIn(l)).map { m =>
      val method = m.group(2) match {
        case anon(enclosing) => enclosing
        case other => other
      }
      of(m.group(1), method)
    }.nextOption()
}

/** A time interval list whose covered length counts overlaps once. */
object Intervals {
  def covered(spans: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.toSeq.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Everything the listeners saw during one benchmark operation. */
final class OpTrace(val op: Int, val name: String, val layer: String) {
  final class Exec(val id: Long, val root: Long, val start: Long, val layer: String,
      val tag: String, val name: String) { var end: Long = -1L }
  final class Job(val id: Long, val exec: Option[Long], val start: Long,
      val callSiteLayer: Option[String]) { var end: Long = -1L }
  final class Stage(val id: Int, var job: Long) {
    var tasks = 0; var start = -1L; var end = -1L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var output = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  var startMs = 0L
  var endMs = 0L
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Long, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  var exchanges = 0L
  var codegenFallbacks = 0L
  /** Harness-measured sub-timings (per-query wall times). */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  private def layerOfJob(j: Job): String =
    j.exec.flatMap(execs.get).map(_.layer).orElse(j.callSiteLayer).getOrElse(layer)

  /** Top-level spans (root SQL executions and jobs outside any execution),
    * each with its layer, sub-tag and [start, end) in ms. */
  private def topSpans: Seq[(String, String, Long, Long)] = {
    val ex = execs.values.filter(e => e.root == e.id)
      .map(e => (e.layer, e.tag, e.start, if (e.end < 0) endMs else e.end))
    val orphan = jobs.values.filter(j => j.exec.forall(id => !execs.contains(id)))
      .map(j => (layerOfJob(j), "", j.start, if (j.end < 0) endMs else j.end))
    (ex ++ orphan).toSeq.map { case (l, t, s, e) =>
      (l, t, math.max(s, startMs), math.min(e, endMs)) }
  }

  /** The per-layer numbers of this operation. */
  def metrics: Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val spans = topSpans
    val mb = 1024.0 * 1024.0
    Layers.all.foreach { l =>
      val ls = spans.filter(_._1 == l)
      m(s"$l.busy_s") = Intervals.covered(ls.map(s => (s._3, s._4))) / 1000.0
      val js = jobs.values.filter(j => layerOfJob(j) == l).map(_.id).toSet
      val ss = stages.values.filter(s => js(s.job)).toSeq
      m(s"$l.jobs") = js.size.toDouble
      m(s"$l.tasks") = ss.map(_.tasks).sum.toDouble
      m(s"$l.shuffle_write_mb") = ss.map(_.shuffleWrite).sum / mb
      m(s"$l.shuffle_read_mb") = ss.map(_.shuffleRead).sum / mb
      m(s"$l.spill_mb") = ss.map(_.spill).sum / mb
      m(s"$l.output_mb") = ss.map(_.output).sum / mb
      m(s"$l.task_skew") = ss.filter(_.taskMs.nonEmpty)
        .sortBy(s => -(s.end - s.start)).headOption.map { s =>
          val sorted = s.taskMs.sorted
          sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
        }.getOrElse(0.0)
    }
    Seq("stageout", "expand_links", "count").foreach { t =>
      m(s"${Layers.Frontier}.${t}_s") = spans.filter(s => s._1 == Layers.Frontier && s._2 == t)
        .map(s => s._4 - s._3).sum / 1000.0
    }
    val wall = endMs - startMs
    m("driver.jobs") = jobs.size.toDouble
    m("driver.sql_executions") = execs.values.count(e => e.root == e.id).toDouble
    m("driver.gap_s") = (wall - Intervals.covered(spans.map(s => (s._3, s._4)))) / 1000.0
    m("queries.exchanges") = exchanges.toDouble
    m("queries.codegen_fallbacks") = codegenFallbacks.toDouble
    m.toMap ++ extra
  }

  /** Spans as JSON objects: the operation, its SQL executions, jobs, stages. */
  def spanRecords: Seq[Map[String, Any]] = {
    val opSpan = Map[String, Any]("op" -> op, "kind" -> "op", "id" -> s"op$op", "parent" -> null,
      "name" -> name, "layer" -> layer, "start_ms" -> startMs, "end_ms" -> endMs)
    val ex = execs.values.map(e => Map[String, Any]("op" -> op, "kind" -> "sql",
      "id" -> s"sql${e.id}", "parent" -> (if (e.root == e.id) s"op$op" else s"sql${e.root}"),
      "name" -> e.name, "layer" -> e.layer, "tag" -> e.tag, "start_ms" -> e.start,
      "end_ms" -> e.end))
    val js = jobs.values.map(j => Map[String, Any]("op" -> op, "kind" -> "job",
      "id" -> s"job${j.id}",
      "parent" -> j.exec.filter(execs.contains).map(id => s"sql$id").getOrElse(s"op$op"),
      "layer" -> layerOfJob(j), "start_ms" -> j.start, "end_ms" -> j.end))
    val st = stages.values.map(s => Map[String, Any]("op" -> op, "kind" -> "stage",
      "id" -> s"stage${s.id}", "parent" -> s"job${s.job}", "start_ms" -> s.start,
      "end_ms" -> s.end, "tasks" -> s.tasks, "shuffle_write_b" -> s.shuffleWrite,
      "shuffle_read_b" -> s.shuffleRead, "spill_b" -> s.spill, "output_b" -> s.output,
      "task_ms_max" -> (if (s.taskMs.isEmpty) 0L else s.taskMs.max)))
    Seq(opSpan) ++ ex ++ js ++ st
  }
}

/**
 * The benchmark's own listeners: a SparkListener (SQL execution start/end,
 * jobs, stages, tasks) and a QueryExecutionListener (executed plans). They
 * record into the current operation's [[OpTrace]] and ignore everything
 * between operations (checks, set-up).
 */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile private var cur: OpTrace = null
  private val stageJob = mutable.HashMap.empty[Int, Long]

  def begin(t: OpTrace): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    t.startMs = System.currentTimeMillis()
    cur = t
  }

  def end(t: OpTrace): Unit = {
    t.endMs = System.currentTimeMillis()
    org.apache.spark.perfbench.BusDrain(sc)
    cur = null
  }

  // in the plan's node details, a file write's first argument is its output path
  private val writePath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r.unanchored
  private val wavePart = """.*/waves/w\d+/(schedule|links)(/.*)?""".r

  /** The crawl step a SQL execution belongs to: the wave's stage-out write,
    * its expand+links write (by the written path), or a count. */
  private def tagOf(desc: String, plan: String): String = Option(plan).collect {
    case writePath(path) => path
  } match {
    case Some(wavePart("schedule", _)) => "stageout"
    case Some(wavePart("links", _)) => "expand_links"
    case _ => if (desc != null && desc.startsWith("count at")) "count" else ""
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = {
    val t = cur
    if (t != null) event match {
      case s: SparkListenerSQLExecutionStart => t.synchronized {
        val root = s.rootExecutionId.getOrElse(s.executionId)
        val layer = Layers.ofCallSite(s.details).getOrElse(t.layer)
        t.execs(s.executionId) = new t.Exec(s.executionId, root, s.time, layer,
          tagOf(s.description, s.physicalPlanDescription), s.description)
      }
      case e: SparkListenerSQLExecutionEnd => t.synchronized {
        t.execs.get(e.executionId).foreach(_.end = e.time)
      }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val t = cur
    if (t != null) t.synchronized {
      val props = Option(j.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .flatMap(Layers.ofCallSite)
      t.jobs(j.jobId.toLong) = new t.Job(j.jobId.toLong, exec, j.time, site)
      j.stageIds.foreach(s => stageJob(s) = j.jobId.toLong)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val t = cur
    if (t != null) t.synchronized { t.jobs.get(j.jobId.toLong).foreach(_.end = j.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = cur
    if (t != null && e.taskInfo != null) t.synchronized {
      t.stages.getOrElseUpdate(e.stageId, new t.Stage(e.stageId, stageJob.getOrElse(e.stageId, -1L)))
        .taskMs += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = cur
    val info = e.stageInfo
    if (t != null) t.synchronized {
      val s = t.stages.getOrElseUpdate(info.stageId,
        new t.Stage(info.stageId, stageJob.getOrElse(info.stageId, -1L)))
      s.job = stageJob.getOrElse(info.stageId, s.job)
      s.tasks = info.numTasks
      s.start = info.submissionTime.getOrElse(-1L)
      s.end = info.completionTime.getOrElse(-1L)
      Option(info.taskMetrics).foreach { m =>
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        s.spill = m.diskBytesSpilled
        s.output = m.outputMetrics.bytesWritten
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = cur
    if (t != null && t.layer == "queries") {
      val nodes = Plans.nodes(qe.executedPlan)
      val ex = nodes.count(_.isInstanceOf[Exchange])
      val fb = nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
      t.synchronized { t.exchanges += ex; t.codegenFallbacks += fb }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
