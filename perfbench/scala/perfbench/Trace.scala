package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one unit of work share `unit`; `parent` is
  * the enclosing span on the same thread (0 for a root). */
final case class Span(id: Long, unit: Long, name: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Off by default: `span` then only runs its body,
  * so the untraced runs pay nothing but one volatile read per call. */
object Trace {
  @volatile var enabled: Boolean = false
  @volatile var unit: Long = -1L
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, unit, name, parents.headOption.getOrElse(0L), t0,
          System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Seconds per traced unit spent in spans called `name`. */
  def perUnit(name: String, units: Int): Double =
    all.filter(_.name == name).map(_.seconds).sum / math.max(1, units)

  /** Seconds spent in spans called `name` of span unit `unit`. */
  def inUnit(name: String, unit: Long): Double =
    all.filter(s => s.name == name && s.unit == unit).map(_.seconds).sum

  def write(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"unit":${s.unit},"name":"${Json.esc(s.name)}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.asJava)
  }
}

/** Spark job, task, SQL and streaming listeners. Registered only for the
  * traced units, so the untraced timings never carry their cost. */
final class Probes(spark: SparkSession) {
  import Probes._

  final case class JobRec(id: Int, module: String, startMs: Long,
                          var endMs: Long, batch: Option[(String, Long)])
  final class StageAcc {
    var cpuNs = 0L; var inBytes = 0L; var outBytes = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val execModule = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val planMs = new AtomicLong(0L)
  private val antiJoins = mutable.Map.empty[String, Int]
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val details = e.stageInfos.map(_.details).mkString("\n")
      val props = Option(e.properties)
      val batch = for {
        p <- props
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield (q, b.toLong)
      // jobs started off the calling thread (broadcasts, subqueries) carry
      // no user frames; they take the module of their SQL execution
      val own = moduleOf(details)
      val module = if (own != "other") own else (for {
        p <- props
        id <- Option(p.getProperty("spark.sql.execution.id"))
        m <- execModule.get(id.toLong)
      } yield m).getOrElse(own)
      jobs(e.jobId) = JobRec(e.jobId, module, e.time, -1L, batch)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized {
          val m = moduleOf(s.details)
          execModule(s.executionId) = s.rootExecutionId.flatMap(execModule.get)
            .filter(_ => m == "other").getOrElse(m)
        }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum)
      val joins = PlanWalk.antiJoins(qe.executedPlan).distinct
      Probes.this.synchronized {
        joins.foreach(j => antiJoins(j) = antiJoins.getOrElse(j, 0) + 1)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Counters over every job, task, plan and batch seen while attached. */
  def snapshot(): Snapshot = { drain(); synchronized {
    val byModule = jobs.values.groupBy(_.module).map { case (m, js) =>
      val ids = js.map(_.id).toSet
      val mine = stages.collect {
        case (s, a) if stageJob.get(s).exists(ids.contains) => a
      }
      m -> ModuleStats(js.size, js.filter(_.endMs >= 0)
        .map(j => (j.endMs - j.startMs) / 1e3).sum, mine.map(_.cpuNs).sum / 1e9,
        mine.map(_.outBytes).sum)
    }
    val acc = stages.values
    val perBatch = jobs.values.flatMap(_.batch).groupBy(identity)
      .values.map(_.size.toDouble).toSeq
    Snapshot(byModule,
      jobs.values.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).toSeq,
      acc.map(_.inBytes).sum, acc.map(_.outBytes).sum,
      acc.map(_.shuffleBytes).sum, acc.map(_.spillBytes).sum,
      planMs.get() / 1e3, perBatch, progress.asScala.toSeq, antiJoins.toMap)
  } }

  def reset(): Unit = { drain(); synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); execModule.clear(); planMs.set(0L)
    progress.clear(); antiJoins.clear()
  } }
}

object Probes {
  final case class ModuleStats(jobs: Int, jobSeconds: Double, taskCpuSeconds: Double,
                               outputBytes: Long)

  final case class Snapshot(
      modules: Map[String, ModuleStats],
      jobIntervalsMs: Seq[(Long, Long)],
      inputBytes: Long, outputBytes: Long, shuffleBytes: Long, spillBytes: Long,
      planSeconds: Double, jobsPerBatch: Seq[Double],
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      antiJoins: Map[String, Int])

  /** The modules whose jobs the per-layer profile attributes. */
  val Modules: Seq[String] = Seq("jobs", "schema", "sinks", "operators", "plans",
    "streaming", "functions", "queries")

  private val Frame = """^graft\.([a-z]+)\.""".r.unanchored

  /** The module of the innermost `graft.<m>` frame in a job's call site
    * (Spark's call site lists the innermost user frame first). Frames of the
    * top-level `graft` package (`Bench`, `SparkEntry`) run the gate queries
    * and count as `queries`. */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => l match {
        case Frame(m) => m
        case _ => "queries"
      }
    }.getOrElse(if (callSite.contains("perfbench.")) "bench" else "other")

  /** Seconds of `[t0, t1]` covered by the union of the given intervals. */
  def coveredSeconds(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered / 1e3
  }
}

/** Walks an executed plan through adaptive stages and cached relations. */
object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan

  /** The physical operator of each left-anti join in `p`, such as
    * `SortMergeJoin` (both sides shuffled) or `BroadcastHashJoin`. */
  def antiJoins(p: SparkPlan): Seq[String] = flatMap(p) {
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => Seq(j.nodeName)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      antiJoins(m.relation.cachedPlan)
    case _ => Nil
  }
}

/** JVM-side counters read through the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def metaspaceMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0)
      .getOrElse(0.0)

  /** Heap in use after a full collection: the live set at this instant. */
  def liveHeapMb(): Double = { System.gc(); heapUsedMb }

  def codegenCompileSeconds: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9

  /** Peak heap left after each major collection while armed. */
  object MajorGcPeak {
    @volatile var armed = false
    @volatile var peakMb = 0.0
    private var installed = false

    def install(): Unit = synchronized {
      if (!installed) {
        installed = true
        ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
          case e: javax.management.NotificationEmitter =>
            e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
              if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
                  .GARBAGE_COLLECTION_NOTIFICATION) {
                val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                  n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
                if (info.getGcAction.contains("major")) {
                  val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                    case (pool, u) if !pool.contains("Metaspace") &&
                      !pool.contains("Code") && !pool.contains("Compressed") =>
                      u.getUsed
                  }.sum / 1048576.0
                  if (used > peakMb) peakMb = used
                }
              }
            }, null, null)
          case _ => ()
        }
      }
    }
  }

  /** Fixed engine-free CPU loop, one copy on each of `threads` threads at
    * once; its wall time tracks how much of the box the run gets, not the
    * code. */
  def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L
        var acc = 0L
        var i = 0
        while (i < 150000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += x & 1023
          i += 1
        }
        if (acc == 42) println("")
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
