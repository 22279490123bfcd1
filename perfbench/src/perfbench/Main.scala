package perfbench

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ice.IceTable
import graft.ice.expr.Expr
import graft.ice.manifest.{ManifestAvro, ManifestContent}

/** One workload: a set-up that builds its inputs and tables, and a round
  * of a fixed operation mix that the timed phase repeats. */
trait Workload {
  /** Session-side set-up: generate the inputs and build the tables. */
  def setup(): Unit
  /** Untimed operations that warm the JIT and Spark's code generation,
    * with all checks; run once, after the last set-up. */
  def warmUp(): Unit
  def round(): Unit
  /** Rows moved per second by the workload's bulk path. */
  def rowsPerSecond(log: OpLog): Double
  /** Operation types whose medians make up `op_p50_gmean_s`. */
  def opKinds: Seq[String]
  /** The workload's own named metrics (see README), printed on the
    * `detail` line. */
  def detail(log: OpLog): Map[String, Any]
  /** Table whose metadata the traced run reports (meta.*, manifest.*). */
  def mainTable: IceTable
  /** Directories whose new files the traced run attributes per round. */
  def watchedDirs: Seq[String]
}

/** Everything one set-up of a workload shares: the session, the
  * warehouse, the seed, the operation log and the checks. */
final class Ctx(val spark: SparkSession, val seed: Long, val cat: TracedDirCatalog,
    val exec: ExecListener, val checks: Checks) {
  var log = new OpLog
  private var watches: Seq[DirWatch] = Nil

  def watch(dirs: Seq[String]): Unit = {
    watches = dirs.map(new DirWatch(_))
    watches.foreach(_.created())
  }

  /** Run one operation of type `kind`. Its latency is recorded only when
    * it completes; an exception counts it as failed. `category` groups
    * operations for the traced split of wall time into Spark-job time
    * and time outside jobs ("query", "write", "maint", "curate"). */
  def op[T](kind: String, category: String)(f: => T): Option[T] = {
    log.attempted(kind) = log.attempted.getOrElse(kind, 0L) + 1
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = Trace.span("op." + kind)(f)
      val dt = (System.nanoTime() - t0) / 1e9
      log.record(kind, dt)
      if (Trace.on) afterTracedOp(category, ms0, dt)
      Some(r)
    } catch {
      case NonFatal(e) =>
        log.failed(kind) = log.failed.getOrElse(kind, 0L) + 1
        System.err.println(s"[perfbench] operation '$kind' failed: $e")
        None
    }
  }

  /** An audit of what the previous operations left behind, counted as an
    * operation of type `kind` in `attempted` and, when `ok` is false, in
    * `failed`. It calls nothing in the program, so it records no latency
    * and stays out of every rate. */
  def audit(kind: String)(ok: Boolean, what: => String): Unit = {
    log.attempted(kind) = log.attempted.getOrElse(kind, 0L) + 1
    if (!ok) {
      log.failed(kind) = log.failed.getOrElse(kind, 0L) + 1
      System.err.println(s"[perfbench] audit '$kind' failed: $what")
    }
  }

  private def afterTracedOp(category: String, ms0: Long, dt: Double): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val jobMs = exec.jobMsWithin(ms0, ms0 + math.ceil(dt * 1000).toLong)
    Trace.add(s"$category.ops", 1)
    Trace.add(s"$category.op_ms", dt * 1000)
    Trace.add(s"$category.job_ms", jobMs.toDouble)
    watches.foreach(_.created().foreach { case (path, bytes) =>
      if (path.endsWith(".metadata.json")) Trace.add("catalog.versions_written", 1)
      else if (path.contains("/metadata/") && path.endsWith(".avro"))
        Trace.add("manifest.bytes_written", bytes.toDouble)
    })
  }

  /** Run `f` with tracing paused: the benchmark's own checks stay out of
    * the layer counters. */
  def untraced[T](f: => T): T =
    if (!Trace.on) f
    else {
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      Trace.on = false
      try f
      finally {
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        Trace.on = true
      }
    }

  /** Traced run only: plan the same scan through the table API, timed,
    * and count planned files against the snapshot's live files and the
    * manifest entries planning has to consider. */
  def tracePlan(t: IceTable, filter: Option[Expr], snapshotId: Option[Long] = None): Unit =
    if (Trace.on) {
      val b = t.newScan()
      snapshotId.foreach(b.useSnapshot)
      filter.foreach(b.filter)
      val files = Trace.span("plan.files")(b.planFiles())
      val snap = snapshotId.flatMap(t.metadata.snapshotById).orElse(t.currentSnapshot)
      val ms = snap.toSeq.flatMap(s => ManifestAvro.readManifestList(s.manifestList))
        .filter(_.content == ManifestContent.Data)
      Trace.add("plan.files_planned", files.size.toDouble)
      Trace.add("plan.files_live", ms.map(m =>
        m.addedFilesCount.getOrElse(0) + m.existingFilesCount.getOrElse(0)).sum.toDouble)
      Trace.add("plan.manifest_entries", ms.map(m => m.addedFilesCount.getOrElse(0) +
        m.existingFilesCount.getOrElse(0) + m.deletedFilesCount.getOrElse(0)).sum.toDouble)
    }
}

object Main {
  private final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  /** Local Spark with fixed parallelism, fixed shuffle partitions, no UI. */
  def session(work: String, traced: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plugin =
      if (traced) classOf[TracedCatalogPlugin].getName
      else "graft.ice.connector.GraftCatalogPlugin"
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.ice", plugin)
      .config("spark.sql.catalog.ice.warehouse", s"$work/wh")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def make(name: String, ctx: Ctx): Workload = name match {
    case "ingest_upsert" => new IngestUpsert(ctx)
    case "corpus_curate" => new CorpusCurate(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Repeat whole rounds until `seconds` of wall time have passed. */
  private def timed(wl: Workload, seconds: Double, log: () => OpLog): Int = {
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      log().beginRound()
      wl.round()
      rounds += 1
    }
    rounds
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val setups = if (a.trace) 1 else 3
    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    val checks = new Checks
    // set-up runs several times. Each time starts a fresh session,
    // generates the inputs and builds the tables. The warm-up follows
    // once, after the last set-up; setup_s is the median set-up plus the
    // warm-up.
    val setupTimes = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      val work = s"${a.work}/setup$i"
      spark = session(work, a.trace)
      ctx = new Ctx(spark, a.seed, new TracedDirCatalog(s"$work/wh"), new ExecListener, checks)
      wl = make(a.workload, ctx)
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmUpTime = (System.nanoTime() - w0) / 1e9
    ctx.log = new OpLog

    val (metrics, log) =
      if (!a.trace) {
        timed(wl, a.seconds, () => ctx.log)
        val log = ctx.log
        val m = Seq(
          "setup_s" -> (Stats.median(setupTimes) + warmUpTime, "s"),
          "ops_per_s" -> (log.opsPerSecond, "1/s"),
          "op_p50_gmean_s" -> (Stats.geomean(wl.opKinds.map(log.median)), "s"),
          "rows_per_s" -> (wl.rowsPerSecond(log), "rows/s"))
        (m, log)
      } else {
        // untraced first half, then the traced half: the ratio of their
        // throughputs is the tracing overhead
        timed(wl, a.seconds / 2, () => ctx.log)
        val plain = ctx.log
        val plainOps = plain.opsPerSecond
        ctx.log = new OpLog
        spark.sparkContext.addSparkListener(ctx.exec)
        val planning = new PlanningListener
        spark.listenerManager.register(planning)
        ctx.watch(wl.watchedDirs)
        Trace.on = true
        val rounds = timed(wl, a.seconds / 2, () => ctx.log)
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        Trace.on = false
        val log = ctx.log
        val tracedOps = log.opsPerSecond
        val m = Layers(wl, ctx, planning, rounds) ++ Seq(
          "trace.untraced_ops_per_s" -> (plainOps, "1/s"),
          "trace.traced_ops_per_s" -> (tracedOps, "1/s"),
          "trace.overhead_pct" -> ((plainOps / tracedOps - 1) * 100, "%"),
          "trace.spans" -> (Trace.size.toDouble, "count"))
        Trace.write(s"${a.work}/../traces/${a.workload}-seed${a.seed}.jsonl")
        (m, log)
      }

    val detail = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_samples_s" -> setupTimes,
      "warmup_s" -> warmUpTime,
      "checks_passed" -> checks.passed,
      "checks_failed" -> checks.failures.size,
      "ops" -> log.attempted.keys.map(k => k -> log.summary(k)).toMap) ++
      (if (a.trace) Map.empty[String, Any] else wl.detail(log))
    println("detail " + Json(detail))
    spark.stop()
    println(Json(ListMap(
      "correct" -> checks.ok,
      "attempted" -> log.totalAttempted,
      "failed" -> log.totalFailed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}
