package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

/** A timed interval; spans of one run share `run`, `parent` is 0 at a root. */
final case class Span(run: String, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written out once when the run ends. Times are
  * epoch nanoseconds so listener timestamps and local timings line up.
  */
final class Tracer(val run: String) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffset

  def add(parent: Long, name: String, startNs: Long, endNs: Long): Long = synchronized {
    nextId += 1
    spans += Span(run, nextId, parent, name, startNs, endNs)
    nextId
  }

  /** Time `f` as one span and return its result. */
  def span[T](parent: Long, name: String)(f: => T): T = {
    val t0 = now
    val r = f
    add(parent, name, t0, now)
    r
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfNs: Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Trace.covered(kids.get(s.id).fold(Seq.empty[Span])(_.toSeq).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** (name, spans, total s, self s), by descending self time. */
  def table: Seq[(String, Int, Double, Double)] = {
    val self = selfNs
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.length, ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._4)
  }

  def selfS(name: String): Double = {
    val self = selfNs
    spans.filter(_.name == name).map(s => self(s.id)).sum / 1e9
  }

  def write(dir: java.io.File, tag: String): java.io.File = {
    dir.mkdirs()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val self = selfNs
    val arr = mapper.createArrayNode()
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("run", s.run); o.put("id", s.id); o.put("parent", s.parent)
      o.put("name", s.name); o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
      o.put("self_ns", self(s.id))
    }
    val f = new java.io.File(dir, s"$tag.spans.json")
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, arr)
    val t = new java.io.PrintWriter(new java.io.File(dir, s"$tag.self.txt"))
    try {
      t.println(f"${"span"}%-28s ${"count"}%8s ${"total_s"}%10s ${"self_s"}%10s")
      table.foreach { case (n, c, tot, sf) => t.println(f"$n%-28s $c%8d $tot%10.4f $sf%10.4f") }
    } finally t.close()
    f
  }
}

object Trace {
  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, schedDelayMs: Long, shuffleWriteB: Long,
    shuffleReadB: Long, fetchWaitMs: Long)

/** Job, stage and task spans from the engine's own listener bus. */
final class SparkSpans extends SparkListener {
  val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, (Long, Seq[Int])]
  val jobEnds = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val stages = scala.collection.concurrent.TrieMap.empty[Int, StageInfo]
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts(e.jobId) = (e.time, e.stageIds)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds(e.jobId) = e.time
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages(e.stageInfo.stageId) = e.stageInfo
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, sched, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime))
    }
  }

  /** Wait until every job seen so far has ended (the bus is ordered, so
    * their stage and task events have arrived too).
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (jobStarts.keys.exists(!jobEnds.contains(_)) && System.currentTimeMillis() < end)
      Thread.sleep(10)
  }

  def allTasks: Seq[TaskRec] = {
    import scala.jdk.CollectionConverters._
    tasks.asScala.toSeq
  }

  /** Record job > stage > task spans under `root`. */
  def toSpans(t: Tracer, root: Long): Unit = {
    val ms = 1000000L
    val byStage = allTasks.groupBy(_.stage)
    jobStarts.toSeq.sortBy(_._1).foreach { case (jid, (start, stageIds)) =>
      val j = t.add(root, "spark.job", start * ms, jobEnds.getOrElse(jid, start) * ms)
      stageIds.flatMap(stages.get).foreach { si =>
        val s = t.add(j, "spark.stage", si.submissionTime.getOrElse(start) * ms,
          si.completionTime.getOrElse(start) * ms)
        byStage.getOrElse(si.stageId, Nil).foreach(k =>
          t.add(s, "spark.task", k.launchMs * ms, k.finishMs * ms))
      }
    }
  }

  /** The listener-derived `spark.*` metrics over a wall window. */
  def metrics(windowStartNs: Long, windowEndNs: Long): Map[String, Double] = {
    val ts = allTasks
    val busy = Trace.covered(ts.map(k => (k.launchMs * 1000000L, k.finishMs * 1000000L)))
    val skew = ts.groupBy(_.stage).values.filter(_.length >= 4).map { g =>
      val d = g.map(k => (k.finishMs - k.launchMs).toDouble).sorted
      d.last / math.max(1.0, d(d.length / 2))
    }.maxOption.getOrElse(1.0)
    Map(
      "spark.jobs" -> jobStarts.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> ts.length.toDouble,
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.scheduler_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "spark.driver_idle_s" -> math.max(0L, windowEndNs - windowStartNs - busy) / 1e9,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / 1e6,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / 1e6,
      "spark.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spark.task_skew" -> skew)
  }

  /** Executor run time of the stages that read the source (no parents). */
  def scanStageRunS: Double = {
    val roots = stages.values.filter(_.parentIds.isEmpty).map(_.stageId).toSet
    allTasks.filter(k => roots(k.stage)).map(_.runMs).sum / 1e3
  }

  def scanStagePartitions: Double =
    stages.values.filter(_.parentIds.isEmpty).map(_.numTasks).sum.toDouble
}

/** Scan- and write-node custom metrics (`warcRecords`, ...) from every
  * query the session executes while registered.
  */
final class PlanMetrics extends QueryExecutionListener {
  private val sums = scala.collection.concurrent.TrieMap.empty[String, Long]
  @volatile var queries = 0

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    collect(qe.executedPlan)
    queries += 1
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def collect(p: SparkPlan): Unit = {
    p.metrics.foreach { case (k, m) =>
      if (k.startsWith("warc")) sums.put(k, sums.getOrElse(k, 0L) + m.value)
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case o => o.children ++ o.subqueries
    }
    kids.foreach(collect)
  }

  @volatile private var base = Map.empty[String, Long]
  /** Count only what executes from now on. */
  def reset(): Unit = base = sums.toMap
  def get(k: String): Double = (sums.getOrElse(k, 0L) - base.getOrElse(k, 0L)).toDouble

  def await(n: Int, timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (queries < n && System.currentTimeMillis() < end) Thread.sleep(10)
  }
}

/** A `graft.functions` Column kernel evaluated row by row on one thread:
  * the analysed expression over a one-column string input, compiled to an
  * unsafe projection — the same generated code a Spark task runs.
  */
final class Kernel(spark: SparkSession, f: Column => Column) {
  private val proj = {
    val schema = StructType(Seq(StructField("text", StringType)))
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(f(org.apache.spark.sql.functions.col("text")).as("out"))
    val plan = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.analyzed)
    plan match {
      case p: Project => UnsafeProjection.create(p.projectList, p.child.output)
      case other => throw new IllegalStateException(s"unexpected kernel plan $other")
    }
  }
  private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

  def apply(text: String): InternalRow = {
    row.update(0, UTF8String.fromString(text))
    proj(row)
  }
}
