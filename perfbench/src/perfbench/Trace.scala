package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ice.catalog.{DirCatalog, TableIdentifier, TableRef}
import graft.ice.connector.GraftCatalogPlugin
import graft.ice.meta.TableMetadata

/** Spans and counters of the traced run. Spans are recorded by the
  * benchmark's own code around calls into the program's public API;
  * they are kept in memory and written out once, at the end. With
  * tracing off every call is a pass-through. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private val sums = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val (id, parent) = synchronized {
        val id = nextId
        nextId += 1
        val parent = stack.headOption.getOrElse(0L)
        stack = id :: stack
        (id, parent)
      }
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.filterNot(_ == id)
          spans += Span(id, parent, name, t0, t1)
        }
      }
    }

  def add(name: String, v: Double): Unit =
    if (on) synchronized { sums(name) = sums.getOrElse(name, 0.0) + v }

  def sum(name: String): Double = synchronized(sums.getOrElse(name, 0.0))
  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)
  def size: Int = synchronized(spans.size)
  def count(name: String): Int = spansNamed(name).size
  /** Mean span duration in ms, 0 when the layer was never entered. */
  def meanMs(name: String): Double = {
    val s = spansNamed(name)
    if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
  }

  def write(path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val out = synchronized(spans.sortBy(_.startNs).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(path), out)
  }
}

/** Spark execution counters from task and job events, plus the job
  * intervals used to split an operation's wall time into time covered
  * by Spark jobs and time outside them. */
final class ExecListener extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  private val starts = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Trace.on) {
      jobs += 1
      starts(e.jobId) = e.time
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (Trace.on && m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      recordsRead += m.inputMetrics.recordsRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one Spark job. */
  def jobMsWithin(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** Catalyst phase times (QueryPlanningTracker) and V2 scan split counts
  * of every query the session runs, the program's internal ones too. */
final class PlanningListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var queries = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var scans = 0L
  var splits = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.on) synchronized {
      val ph = qe.tracker.phases
      queries += 1
      analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }
        .foreach { n => scans += 1; splits += n }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The `ice` catalog plugin with its table loads timed: the SQL path's
  * catalog load (version discovery, metadata JSON read, table handle). */
class TracedCatalogPlugin extends GraftCatalogPlugin {
  override def loadTable(ident: Identifier): Table =
    Trace.span("catalog.load")(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    Trace.span("catalog.load")(super.loadTable(ident, version))
}

/** DirCatalog with its loads and commits timed, used for the benchmark's
  * calls into the table API. */
final class TracedDirCatalog(warehouse: String) extends DirCatalog(warehouse) {
  override def loadTable(ident: TableIdentifier): TableRef =
    Trace.span("catalog.load")(super.loadTable(ident))
  override def commit(ident: TableIdentifier, baseVersion: Int, updated: TableMetadata): Int =
    Trace.span("catalog.commit")(super.commit(ident, baseVersion, updated))
}
