package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

/** One timed interval. `op` is the closed-loop op it belongs to (-1 for
  * set-up work); `parent` is the enclosing span's id (-1 at the root).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it still runs the body but keeps
  * nothing, so untraced runs pay one branch per call.
  */
final class Tracer(var enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  def write(file: java.io.File, origin: Long): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      w.println(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_s" -> (s.startNs - origin) / 1e9,
        "end_s" -> (s.endNs - origin) / 1e9)))
    } finally w.close()
  }
}

/** Per-op execution counters, fed by a SparkListener and a
  * QueryExecutionListener. Jobs are attributed to the op whose id the
  * submitting thread carried in the `graft.op` local property; stages
  * and tasks follow their job. Listener callbacks run later, on the
  * listener-bus thread, so events that carry only a time are kept raw
  * and assigned to op windows by `resolve`, after the bus is drained:
  * Catalyst phases (from each finished QueryExecution's tracker) by
  * phase start, AQE plan updates by the start of their SQL execution.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class OpStats {
    var jobs, stages, tasks, aqeUpdates = 0L
    var taskMs, cpuNs, gcMs, overheadMs = 0L
    var shuffleRead, shuffleWrite, spill, peakTaskMem = 0L
    var maxSkew = 0.0
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val phaseSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val ops = mutable.Map.empty[Int, OpStats]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // op id -> (start, end) in epoch ms; end is -1 while the op runs
  private val windows = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  private val phaseRecs = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val execStartMs = mutable.Map.empty[Long, Long]
  private val execAqe = mutable.Map.empty[Long, Long].withDefaultValue(0L)

  private def stats(op: Int): OpStats = ops.getOrElseUpdate(op, new OpStats)

  /** Called by the client before an op starts and after it ends. */
  def open(op: Int, startMs: Long): Unit = synchronized {
    windows(op) = (startMs, -1L)
  }

  def close(op: Int, endMs: Long): Unit = synchronized {
    windows(op) = (windows(op)._1, endMs)
  }

  def startMs(op: Int): Long = synchronized {
    windows.get(op).map(_._1).getOrElse(0L)
  }

  /** The op running at `t` (epoch ms), or -1 between ops. */
  private def opAt(t: Long): Int =
    windows.iterator.filter { case (_, (a, b)) => a <= t && (b < 0 || t <= b) }
      .map(_._1).toSeq.lastOption.getOrElse(-1)

  /** Assigns the time-keyed records to ops; call after the bus drained. */
  def resolve(): Unit = synchronized {
    phaseRecs.foreach { case (phase, start, dur) =>
      val s = stats(opAt(start))
      s.phases(phase) += dur
      s.phaseSpans += ((start, dur))
    }
    phaseRecs.clear()
    execAqe.foreach { case (exec, n) =>
      stats(execStartMs.get(exec).map(opAt).getOrElse(-1)).aqeUpdates += n
    }
    execAqe.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("graft.op")))
      .map(_.toInt).getOrElse(opAt(e.time))
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    stats(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, opAt(e.time))
    stats(op).jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      val s = stats(stageOp.getOrElse(id, -1))
      s.stages += 1
      stageTaskMs.remove(id).foreach { ts =>
        if (ts.size >= 2 && ts.max >= 100) {
          val sorted = ts.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          s.maxSkew = math.max(s.maxSkew, sorted.last.toDouble / med)
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageOp.getOrElse(e.stageId, -1))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      s.peakTaskMem = math.max(s.peakTaskMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized { execStartMs(x.executionId) = x.time }
    case x: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { execAqe(x.executionId) += 1 }
    case _ =>
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      phaseRecs += ((phase, p.startTimeMs, p.durationMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

/** Heap occupancy right after a garbage collection. Every collection
  * of the timed loop reports the heap pools' usage after it through a
  * GC notification, so a round's peak includes the live data of the ops
  * that ran in it; the full collection that ends a round adds one more
  * sample. `peakMb` is the median over rounds of each round's peak.
  */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private var current = 0L
  private val rounds = mutable.ArrayBuffer.empty[Long]

  def peakMb: Double = synchronized {
    if (rounds.isEmpty) 0.0 else rounds.sorted.apply(rounds.size / 2) / 1048576.0
  }

  private def note(used: Long): Unit = synchronized {
    current = math.max(current, used)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val onGc = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        note(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
      }
  }

  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = emitters.foreach(_.addNotificationListener(onGc, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(onGc))

  /** Three collections with pauses between them: the first ones let
    * Spark's ContextCleaner see and drop unreferenced broadcasts,
    * shuffles and cached blocks, the last frees what it dropped.
    */
  def fullGc(): Unit = {
    for (pause <- Seq(500L, 200L)) {
      System.gc()
      Thread.sleep(pause)
    }
    System.gc()
  }

  def endRound(): Unit = {
    fullGc()
    note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    synchronized {
      rounds += current
      current = 0L
    }
  }
}
