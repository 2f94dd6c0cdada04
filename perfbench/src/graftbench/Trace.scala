package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One span of the traced run. Ids are strings so a job can name the
  * epoch it belongs to before that epoch's progress event has arrived. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String] = Map.empty)

/** Per-bucket totals: a bucket is an analytics group or a bridge layer. */
final class Acc {
  var jobs, stages, tasks, matJobs = 0L
  var runMs, cpuMs, gcMs, stageMs, planMs = 0.0
  /** (start, end) ns of materialization jobs; adaptive execution runs
    * some of them side by side, so their time is the union. */
  val matSpans = mutable.ArrayBuffer[(Long, Long)]()
  var shuffleRead, shuffleWrite, spill, inputBytes, inputRows = 0L
  var outputBytes, joinRows, cachedPeak = 0L
  var skewMax = 0.0

  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; matJobs += o.matJobs
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs; stageMs += o.stageMs
    matSpans ++= o.matSpans; planMs += o.planMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; inputBytes += o.inputBytes
    inputRows += o.inputRows; outputBytes += o.outputBytes; joinRows += o.joinRows
    cachedPeak = cachedPeak.max(o.cachedPeak); skewMax = skewMax.max(o.skewMax)
  }

  def matMs: Double = {
    var total, end = 0L
    matSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) total += e - s else if (e > end) total += e - end
      end = end.max(e)
    }
    total / 1e6
  }
}

/** Where a stage or job came from: its call-site operation and file, with
  * the line number dropped so the name survives unrelated edits. */
object CallSite {
  private val lineSuffix = ":\\d+$".r

  def site(stageName: String): String = lineSuffix.replaceFirstIn(stageName.trim, "")

  /** A SQL execution's description is its action's call site unless a job
    * description replaced it (streaming sets one per micro-batch). */
  def looksLikeSite(description: String): Boolean =
    description.matches("""\S+ at \S+\.(scala|java)(:\d+)?""")

  /** Jobs launched by the materialization helpers (package.scala) or by a
    * raw (local)checkpoint anywhere in the query code. */
  def isMaterialization(site: String): Boolean =
    site.endsWith(" at package.scala") || site.startsWith("localCheckpoint at ") ||
      site.startsWith("checkpoint at ")

  /** The bridge's layers inside one micro-batch. Every job a streaming
    * query runs carries the query's `start` call site, so the layer comes
    * from the order instead: the sink's write or per-partition publish is
    * the epoch's last job (`publish`); the jobs before it compute the
    * parsed and routed batch that the sink persisted (`route`). */
  def epochLayers(jobIds: Seq[Int]): Map[Int, String] = {
    val last = if (jobIds.isEmpty) -1 else jobIds.max
    jobIds.map(j => j -> (if (j == last) "publish" else "route")).toMap
  }
}

/** The traced run's listeners: a SparkListener for jobs, stages, tasks and
  * cached blocks, a StreamingQueryListener for epochs and a
  * QueryExecutionListener for planning time and join fan-out. Everything
  * stays in memory until the run writes its spans out at the end. */
final class Tracer(spark: SparkSession, val runId: String) {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val accs = new ConcurrentHashMap[String, Acc]()
  def acc(b: String): Acc = accs.computeIfAbsent(b, _ => new Acc)

  /** Bucket of the analytics key the driver thread is running ("" for the
    * bridge, whose jobs are bucketed by layer). Set by the workload. */
  @volatile var bucket: String = ""

  private val jobs = new ConcurrentHashMap[Int, Tracer.JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val epochJobs = new ConcurrentHashMap[String, java.util.Set[Int]]()
  private val taskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cached = 0L

  /** (arrival ns, progress) of every micro-batch that read rows. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()

  def span[T](kind: String, name: String, parent: String)(body: => T): T = {
    val id = s"$kind:$name"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("graftbench.span")
    sc.setLocalProperty("graftbench.span", id)
    val prevPhase = phase
    if (kind == "phase" || kind == "workload") phase = id
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, kind, name, t0, System.nanoTime()))
      sc.setLocalProperty("graftbench.span", prev)
      phase = prevPhase
    }
  }

  /** The innermost open phase (or workload) span: the parent of streaming
    * queries. */
  @volatile private var phase = ""
  private val queryStarts = new ConcurrentHashMap[String, (Long, String)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val batch = prop("streaming.sql.batchId")
      val query = prop("sql.streaming.queryId")
      val parent = (query, batch) match {
        case (Some(q), Some(b)) => s"epoch:$q/$b"
        case _ => prop("graftbench.span").getOrElse("")
      }
      // Under adaptive execution a query's shuffle stages run as jobs
      // submitted from a pool thread, whose own call site is meaningless;
      // the SQL execution that owns them keeps the action's call site.
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id.toLong)))
        .getOrElse(CallSite.site(e.stageInfos.maxBy(_.stageId).name))
      // A micro-batch's jobs are kept apart until settleEpochs() knows
      // which of them was the epoch's last.
      val b = if (batch.isDefined) {
        epochJobs.computeIfAbsent(parent, _ => ConcurrentHashMap.newKeySet[Int]()).add(e.jobId)
        s"#${e.jobId}"
      } else bucket
      jobs.put(e.jobId, Tracer.JobInfo(b, site, parent, System.nanoTime()))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if CallSite.looksLikeSite(s.description) =>
        execSites.put(s.executionId, CallSite.site(s.description))
      case _ => ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        val end = System.nanoTime()
        spans.add(Span(s"job:${e.jobId}", j.span, "job", j.site, j.startNs, end))
        if (j.bucket.nonEmpty) {
          val a = acc(j.bucket)
          a.synchronized {
            a.jobs += 1
            if (CallSite.isMaterialization(j.site)) {
              a.matJobs += 1
              a.matSpans += ((j.startNs, end))
            }
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val buf = taskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
        buf.synchronized { buf += e.taskInfo.duration }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job = Option(jobs.get(stageJob.getOrDefault(si.stageId, -1)))
      val tm = si.taskMetrics
      val durMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
        .getOrElse(0L).toDouble
      val times = Option(taskTimes.remove(si.stageId)).map(_.toSeq).getOrElse(Nil)
      job.foreach { j =>
        spans.add(Span(s"stage:${si.stageId}.${si.attemptNumber()}",
          s"job:${stageJob.get(si.stageId)}", "stage", j.site,
          j.startNs, j.startNs + (durMs * 1e6).toLong,
          Map("tasks" -> si.numTasks.toString)))
      }
      val b = job.map(_.bucket).getOrElse("")
      if (b.nonEmpty && tm != null) {
        val a = acc(b)
        a.synchronized {
          a.stages += 1
          a.tasks += si.numTasks
          a.stageMs += durMs
          a.runMs += tm.executorRunTime
          a.cpuMs += tm.executorCpuTime / 1e6
          a.gcMs += tm.jvmGCTime
          a.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          a.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          a.inputBytes += tm.inputMetrics.bytesRead
          a.inputRows += tm.inputMetrics.recordsRead
          a.outputBytes += tm.outputMetrics.bytesWritten
          if (times.size >= 2) {
            val med = Stats.median(times.map(_.toDouble))
            if (med > 0) a.skewMax = a.skewMax.max(times.max / med)
          }
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        val key = info.blockId.name
        val old = if (size > 0 && info.storageLevel.isValid)
          Option(blocks.put(key, size)).map(_.longValue).getOrElse(0L)
        else Option(blocks.remove(key)).map(_.longValue).getOrElse(0L)
        val now = synchronized { cached += (if (info.storageLevel.isValid) size else 0L) - old; cached }
        val b = bucket
        if (b.nonEmpty) { val a = acc(b); a.synchronized { a.cachedPeak = a.cachedPeak.max(now) } }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      queryStarts.put(e.id.toString, (System.nanoTime(), phase))
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(queryStarts.remove(e.id.toString)).foreach { case (t0, parent) =>
        spans.add(Span(s"query:${e.id}", parent, "query", "bridge", t0, System.nanoTime()))
      }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val now = System.nanoTime()
      if (p.numInputRows > 0) {
        progress.add(now -> p)
        val trig = p.durationMs.getOrDefault("triggerExecution", 0L)
        spans.add(Span(s"epoch:${p.id}/${p.batchId}", s"query:${p.id}", "epoch",
          s"batch ${p.batchId}", now - trig * 1000000L, now,
          Map("rows" -> p.numInputRows.toString)))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (bucket.nonEmpty) recordQuery(bucket, qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  /** Planning time and join fan-out of one executed query. */
  def recordQuery(b: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum
    val joinRows = Tracer.nodes(qe.executedPlan).collect {
      case j @ (_: HashJoin | _: SortMergeJoinExec | _: BroadcastNestedLoopJoinExec |
          _: CartesianProductExec) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    val a = acc(b)
    a.synchronized { a.planMs += planMs; a.joinRows += joinRows }
  }

  /** Folds each micro-batch's jobs into the `route` and `publish` buckets. */
  def settleEpochs(): Unit = {
    drain()
    epochJobs.asScala.foreach { case (_, ids) =>
      CallSite.epochLayers(ids.asScala.toSeq).foreach { case (id, layer) =>
        Option(accs.remove(s"#$id")).foreach(a => acc(layer).add(a))
      }
    }
    epochJobs.clear()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every event queued so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def writeSpans(file: java.nio.file.Path): Int = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      s"""{"run":${q(runId)},"id":${q(s.id)},"parent":${q(s.parent)},""" +
        s""""kind":${q(s.kind)},"name":${q(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.writeString(file, lines.mkString("", "\n", "\n"))
    all.size
  }
}

object Tracer {
  final case class JobInfo(bucket: String, site: String, span: String, startNs: Long)

  /** Every physical node that ran, looking through adaptive plans, query
    * stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil // its child ran once, under the original
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
