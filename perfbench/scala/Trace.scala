package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer: Map, Seq, String, numbers, Boolean, Option, null. */
object J {
  def apply(v: Any): String = v match {
    case null | None                 => "null"
    case Some(x)                     => apply(x)
    case s: String                   => str(s)
    case b: Boolean                  => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                   => d.toString
    case f: Float                    => apply(f.toDouble)
    case n: Int                      => n.toString
    case n: Long                     => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]             => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]                => xs.map(apply).mkString("[", ",", "]")
    case other                       => str(other.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}

/**
 * Everything a run records, kept in memory and written once at the end.
 *
 * Ops are the benchmark's timed calls into the system (one commit, one
 * verify, one HTTP request, one operator call). While an op runs on the
 * benchmark thread, the Spark local property [[Recorder.OpProperty]] names
 * it, so every job that thread submits carries the op id; jobs submitted
 * from other threads (the REST server's handler) carry none and are matched
 * to an op by time window afterwards.
 *
 * With tracing off only op wall times and the op results the
 * correctness checks need are recorded. With tracing on, a [[SparkListener]]
 * and a [[QueryExecutionListener]] also record every job, stage, task
 * aggregate and Catalyst phase, and each op records the driver's local-FS
 * byte counters and GC time around it.
 */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val jobs = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Any]]
  val stages = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Any]]
  val executions = mutable.LinkedHashMap.empty[Long, mutable.LinkedHashMap[String, Any]]
  val plans = mutable.LinkedHashMap.empty[Long, mutable.LinkedHashMap[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var nextOp = 0

  private val sc: SparkContext = spark.sparkContext

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      jobs(e.jobId) = mutable.LinkedHashMap(
        "id" -> e.jobId,
        "op" -> props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt),
        "execution" -> props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
        "start_ms" -> e.time,
        "stages" -> e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val st = stage(e.stageInfo.stageId)
      st("job") = stageJob.getOrElse(e.stageInfo.stageId, -1)
      st("start_ms") = e.stageInfo.submissionTime.getOrElse(0L)
      st("end_ms") = e.stageInfo.completionTime.getOrElse(0L)
      st("attempt") = e.stageInfo.attemptNumber()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val st = stage(e.stageId)
      val m = e.taskMetrics
      val info = e.taskInfo
      def add(k: String, v: Double): Unit = st(k) = st.getOrElse(k, 0.0).asInstanceOf[Double] + v
      add("tasks", 1)
      if (!info.successful) add("tasks_failed", 1)
      if (m != null) {
        val run = m.executorRunTime / 1e3
        val deser = m.executorDeserializeTime / 1e3
        val ser = m.resultSerializationTime / 1e3
        val dur = info.duration / 1e3
        add("task_s", run)
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("sched_delay_s", math.max(0.0, dur - run - deser - ser - info.gettingResultTime / 1e3))
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execution(s.executionId)("start_ms") = s.time
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        val x = execution(s.executionId)
        x("end_ms") = s.time
        // `qe` is package-private; it links this execution to its plan record
        x("plan") = Option(s.getClass.getMethod("qe").invoke(s))
          .map(_.asInstanceOf[QueryExecution].id)
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String): Double = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      val scans = PlanWalk.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(n: String): Long =
        scans.flatMap(_.metrics.get(n)).map(_.value).sum
      lock.synchronized {
        val x = plans.getOrElseUpdate(qe.id, mutable.LinkedHashMap[String, Any]("id" -> qe.id))
        x("analysis_s") = phase("analysis")
        x("optimization_s") = phase("optimization")
        x("planning_s") = phase("planning")
        x("duration_s") = durationNs / 1e9
        x("files_scanned") = metric("numFiles")
        x("rows_scanned") = metric("numOutputRows")
      }
    }
  }

  private def stage(id: Int) =
    stages.getOrElseUpdate(id, mutable.LinkedHashMap[String, Any]("id" -> id))
  private def execution(id: Long) =
    executions.getOrElseUpdate(id, mutable.LinkedHashMap[String, Any]("id" -> id))

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` as one op of type `kind`. Failures are recorded, not thrown,
    * so one failed op counts against the error rate without ending the run. */
  def op[T](kind: String, extra: Map[String, Any] = Map.empty)(body: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    val fs0 = if (traced) fsBytes() else (0L, 0L)
    val gc0 = if (traced) gcSeconds() else 0.0
    sc.setLocalProperty(OpProperty, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(OpProperty, null)
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "type" -> kind, "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
      "ok" -> result.isRight)
    result.left.foreach(e => rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    if (traced) {
      val fs1 = fsBytes()
      rec("fs_bytes_read") = fs1._1 - fs0._1
      rec("fs_bytes_written") = fs1._2 - fs0._2
      rec("jvm_gc_s") = gcSeconds() - gc0
    }
    rec ++= extra
    ops += rec
    result.toOption
  }

  /** Attach a value to the most recent op (e.g. a result computed from it). */
  def annotate(kv: (String, Any)*): Unit = ops.lastOption.foreach(_ ++= kv)


  /** Flush the listener bus (package-private in Spark) so every event of
    * the finished ops, QueryExecutionListener calls included, is recorded. */
  def drain(): Unit = if (traced) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: Map[String, Any] = lock.synchronized {
    Map(
      "ops" -> ops.toSeq,
      "jobs" -> jobs.values.toSeq,
      "stages" -> stages.values.toSeq,
      "executions" -> executions.values.toSeq,
      "plans" -> plans.values.toSeq)
  }
}

object Recorder {
  val OpProperty = "perfbench.op"
  private val lock = new Object

  /** Bytes read and written through Hadoop's local file system, process-wide
    * (in local mode the executors are threads of this JVM). */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/**
 * Largest heap occupancy right after a garbage collection, over the JVM's
 * own collections while it is open: each collection's notification carries
 * the usage of every pool after it, and the heap pools are summed. Nothing
 * is forced during the watch, so the ops' timings include the collections
 * their allocation causes.
 */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum
        HeapWatch.this.synchronized { peak = math.max(peak, after) }
      }
  }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))

  def peakMb: Double = synchronized(peak).toDouble / (1024.0 * 1024.0)
}

object HeapWatch {
  /** The live heap in MB: occupancy after one forced full collection. */
  def liveMbAfterFullGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Descends into adaptive plans and query stages, which `foreach` skips. */
object PlanWalk extends AdaptiveSparkPlanHelper
