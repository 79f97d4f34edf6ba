package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueriesCuration, QueriesDedup, QueriesEvents, QueriesFunctions,
  QueriesGraph, QueriesMl, QueriesProfile, QueriesReference,
  QueriesRelational, QueriesSketch, QueriesSql, QueriesStorage,
  QueriesStreaming, QueriesText, QueriesTimeseries, QueriesVector,
  SparkConfDefaults, SparkEntry}
import graft.pipeline.{WeatherPipeline, WeatherSinks}
import graft.sinks.ParquetSink
import graft.sources.ForecastJsonSource
import graft.storage.CommitLog

/** One closed-loop op's record. `phase` is "untraced" or "traced". */
final case class Op(id: Int, name: String, phase: String, startNs: Long,
    endNs: Long, constructNs: Long, ok: Boolean, error: String,
    detail: Map[String, Any]) {
  def wall: Double = (endNs - startNs) / 1e9
}

/** A workload: set-up steps, the op it repeats, and its untimed checks.
  * Set-up (session start, `build`, `warmup`) runs several times in one
  * process, each time from scratch: a fresh session, a fresh
  * `java.io.tmpdir` (where the library keeps its storage tables) and
  * fresh output tables. The median is `setup_s`; the last set-up's
  * session serves the timed ops.
  */
trait Workload {
  /** Builds what the ops read at target scale (shared caches, tables);
    * returns named parts and their seconds.
    */
  def build(spark: SparkSession, t: Tracer): Seq[(String, Double)]
  /** Runs ops at target scale, so that whatever the library builds or
    * compiles lazily on first execution is part of set-up, and JIT and
    * codegen warmup stay out of the timed loop.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit
  /** False when the generated inputs hold no further op. */
  def hasNext: Boolean = true
  /** True after the op that ends a round (a pass over every query, or a
    * checkpoint period of cycles). The loop runs whole rounds, so every
    * run measures the same mix of ops.
    */
  def atRoundEnd: Boolean
  def nextOp(): String
  def run(spark: SparkSession, name: String, t: Tracer): Op
  /** Untimed: writes what the checker reads; returns summary fields. */
  def finish(spark: SparkSession, ops: Seq[Op], corrupt: Boolean): Map[String, Any]
  /** Per-layer metrics this workload derives from its own spans. */
  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double]
}

/** Benchmark entry point. Arguments are key=value pairs:
  *   workload=queries|weather out=<dir> rounds=<n> trace=0|1 seed=<n>
  *   setups=<n> cores=<n> corrupt=0|1, plus the workload's own keys.
  * Writes `<out>/result.json` (and `<out>/trace.jsonl` when traced).
  */
object Main {
  private val processStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkConfDefaults.withDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val out = new File(a("out"))
    out.mkdirs()
    val rounds = a("rounds").toInt
    val trace = a("trace") == "1"
    val setups = a.getOrElse("setups", "3").toInt
    val cores = a.getOrElse("cores",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val localDir = new File(out, "spark-local").getAbsolutePath
    val tracer = new Tracer(false)
    val w: Workload = a("workload") match {
      case "queries" => new QueryWorkload(a, out)
      case "weather" => new WeatherWorkload(a, out)
    }

    // ---- set-up, repeated; the last session serves the timed ops ----
    var spark: SparkSession = null
    var tmp: File = null
    tracer.enabled = trace
    val setupRecs = (0 until setups).map { r =>
      if (spark != null) stop(spark)
      if (tmp != null) Files.rm(tmp)
      tmp = new File(out, s"tmp-setup-$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      val t0 = System.nanoTime()
      spark = tracer.span("session.start")(session(cores, localDir))
      val t1 = System.nanoTime()
      val parts = tracer.span("caches.build")(w.build(spark, tracer))
      val t2 = System.nanoTime()
      tracer.span("session.warmup")(w.warmup(spark, tracer))
      val t3 = System.nanoTime()
      Map("setup_s" -> (t3 - t0) / 1e9, "session.start_s" -> (t1 - t0) / 1e9,
        "caches.build_s" -> (t2 - t1) / 1e9, "session.warmup_s" -> (t3 - t2) / 1e9,
        "caches.builds" -> parts.size, "parts" -> parts.toMap)
    }
    val firstOpMs = System.currentTimeMillis()
    val storageMb = {
      val infos = spark.sparkContext.getRDDStorageInfo
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
    }

    // ---- timed closed loop: one op at a time, for whole rounds ----
    val listener = new LayerListener
    val ops = mutable.ArrayBuffer.empty[Op]
    def loop(phase: String, n: Int): Unit = {
      var left = n
      while (left > 0 && w.hasNext) {
        val name = w.nextOp()
        val id = ops.size
        tracer.op = id
        spark.sparkContext.setLocalProperty("graft.op", id.toString)
        listener.open(id, System.currentTimeMillis())
        val op = w.run(spark, name, tracer).copy(id = id, phase = phase)
        listener.close(id, System.currentTimeMillis())
        spark.sparkContext.setLocalProperty("graft.op", null)
        tracer.op = -1
        ops += op
        if (w.atRoundEnd) {
          HeapWatch.endRound()
          left -= 1
        }
      }
    }
    tracer.enabled = false
    // the loop starts on a collected heap, so set-up garbage is not
    // counted as an op's live data
    HeapWatch.fullGc()
    HeapWatch.start()
    val loopStart = System.nanoTime()
    if (!trace) loop("untraced", rounds)
    else {
      // The first rounds run untraced so the traced ones can be compared
      // with them: the difference is the tracing overhead.
      val untraced = math.max(1, rounds / 2)
      loop("untraced", untraced)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
      tracer.enabled = true
      loop("traced", math.max(1, rounds - untraced))
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      listener.resolve()
      tracer.enabled = false
    }
    HeapWatch.stop()
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val peakHeapMb = HeapWatch.peakMb

    val summary = w.finish(spark, ops.toSeq, a.get("corrupt").contains("1"))

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val traced = ops.filter(_.phase == "traced").toSeq
        def median(k: String): Double = {
          val v = setupRecs.map(_(k).asInstanceOf[Double]).sorted
          v(v.size / 2)
        }
        execLayers(listener, traced, cores) ++ w.layers(traced, tracer.spans) ++
          Map("session.start_s" -> median("session.start_s"),
            "session.warmup_s" -> median("session.warmup_s"),
            "caches.build_s" -> median("caches.build_s"),
            "caches.builds" -> setupRecs.last("caches.builds").asInstanceOf[Int].toDouble,
            "caches.storage_mb" -> storageMb,
            "trace.spans" -> tracer.spans.size.toDouble)
      }
    val origin = ops.headOption.map(_.startNs).getOrElse(System.nanoTime())
    if (trace) tracer.write(new File(out, "trace.jsonl"), origin)

    val result = Map(
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_to_first_op_s" -> (firstOpMs - processStartMs) / 1e3,
      "setups" -> setupRecs,
      "loop_s" -> loopS,
      "caches_storage_mb" -> storageMb,
      "peak_heap_mb" -> peakHeapMb,
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name,
        "phase" -> o.phase, "start_s" -> (o.startNs - origin) / 1e9,
        "wall_s" -> o.wall, "construct_s" -> o.constructNs / 1e9, "ok" -> o.ok,
        "error" -> o.error) ++ o.detail),
      "summary" -> summary,
      "layers" -> layers)
    val f = new File(out, "result.json")
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try pw.println(Json(result)) finally pw.close()
    stop(spark)
  }

  /** Execution-layer metrics over the traced ops, as means per op (times
    * and counts) or maxima (memory, skew). The op wall splits into job
    * time (union of job intervals), Catalyst phase time outside jobs,
    * constructor time outside both, and an unattributed remainder.
    */
  private def execLayers(l: LayerListener, ops: Seq[Op], cores: Int)
      : Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    val st = ops.map(o => l.ops.getOrElse(o.id, new l.OpStats))
    def mean(f: l.OpStats => Double): Double = st.map(f).sum / n
    // total length of the union of [start, end) intervals, clipped to [lo, hi)
    def unionMs(spans: Seq[(Long, Long)], lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue): Long = {
      var total = 0L
      var curS, curE = Long.MinValue
      spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => a < b }.sortBy(_._1).foreach { case (a, b) =>
          if (a > curE) {
            if (curE > curS) total += curE - curS
            curS = a
            curE = b
          } else curE = math.max(curE, b)
        }
      if (curE > curS) total += curE - curS
      total
    }
    val jobs = st.map(_.jobSpans.toSeq)
    val phases = st.map(_.phaseSpans.toSeq.map { case (a, d) => (a, a + d) })
    val jobWall = jobs.map(j => unionMs(j) / 1e3)
    val wall = ops.map(_.wall)
    val catalystOutside = jobs.indices.map(i =>
      (unionMs(jobs(i) ++ phases(i)) - unionMs(jobs(i))) / 1e3)
    val taskS = st.map(_.taskMs / 1e3)
    // construct window: op start to the end of the constructor call
    val constructStart = ops.map(o => l.startMs(o.id))
    val constructEnd = ops.map(o => l.startMs(o.id) + o.constructNs / 1000000L)
    val constructJobs = jobs.zip(constructEnd).map { case (j, end) =>
      j.count(_._1 <= end).toDouble
    }
    // construct time spent neither in jobs nor in Catalyst phases
    val constructDriver = ops.indices.map { i =>
      val busy = unionMs(jobs(i) ++ phases(i), constructStart(i), constructEnd(i))
      math.max(0.0, ops(i).constructNs / 1e9 - busy / 1e3)
    }
    Map(
      "op.wall_s" -> wall.sum / n,
      "exec.jobs" -> mean(_.jobs.toDouble),
      "queries.construct_jobs" -> constructJobs.sum / n,
      "exec.stages" -> mean(_.stages.toDouble),
      "exec.tasks" -> mean(_.tasks.toDouble),
      "exec.task_s" -> taskS.sum / n,
      "exec.task_cpu_s" -> mean(_.cpuNs / 1e9),
      "exec.gc_s" -> mean(_.gcMs / 1e3),
      "exec.task_overhead_s" -> mean(_.overheadMs / 1e3),
      "exec.job_wall_s" -> jobWall.sum / n,
      "exec.driver_gap_s" -> wall.zip(jobWall).map { case (w, j) => w - j }.sum / n,
      "exec.core_util" -> taskS.sum / (wall.sum * cores),
      "exec.shuffle_read_mb" -> mean(_.shuffleRead / 1048576.0),
      "exec.shuffle_write_mb" -> mean(_.shuffleWrite / 1048576.0),
      "exec.spill_mb" -> mean(_.spill / 1048576.0),
      "exec.peak_task_mem_mb" -> st.map(_.peakTaskMem / 1048576.0).max,
      "exec.max_task_skew" -> st.map(_.maxSkew).max,
      "catalyst.analysis_s" -> mean(_.phases("analysis") / 1e3),
      "catalyst.optimization_s" -> mean(_.phases("optimization") / 1e3),
      "catalyst.planning_s" -> mean(_.phases("planning") / 1e3),
      "catalyst.aqe_updates" -> mean(_.aqeUpdates.toDouble),
      "queries.construct_driver_s" -> constructDriver.sum / n,
      "catalyst.outside_jobs_s" -> catalystOutside.sum / n,
      "op.unattributed_s" -> wall.indices.map(i =>
        wall(i) - jobWall(i) - catalystOutside(i) - constructDriver(i)).sum / n)
  }
}

/** Registry queries as ops: `queries=a,b,c` at `data=<dir>`, each pass
  * over them in a `seed`-shuffled order.
  */
final class QueryWorkload(a: Map[String, String], out: File) extends Workload {
  private val data = a("data")
  private val names = a("queries").split(",").toSeq
  private val rng = new scala.util.Random(a("seed").toLong)
  private var pass = Iterator.empty[String]

  private val families: Map[String, String] = Seq(
    "reference" -> QueriesReference.queries, "relational" -> QueriesRelational.queries,
    "text" -> QueriesText.queries, "dedup" -> QueriesDedup.queries,
    "vector" -> QueriesVector.queries, "streaming" -> QueriesStreaming.queries,
    "functions" -> QueriesFunctions.queries, "sketch" -> QueriesSketch.queries,
    "curation" -> QueriesCuration.queries, "events" -> QueriesEvents.queries,
    "graph" -> QueriesGraph.queries, "timeseries" -> QueriesTimeseries.queries,
    "profile" -> QueriesProfile.queries, "sql" -> QueriesSql.queries,
    "storage" -> QueriesStorage.queries, "ml" -> QueriesMl.queries)
    .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap

  require(names.forall(SparkEntry.queries.contains),
    s"unknown queries: ${names.filterNot(SparkEntry.queries.contains)}")

  private val first =
    mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType, Digest)]

  /** The shared caches the selected queries read. */
  def build(spark: SparkSession, t: Tracer): Seq[(String, Double)] =
    SparkEntry.sharedCachesFor(names.toSet).map { case (c, b) =>
      val t0 = System.nanoTime()
      t.span("caches." + c)(b(spark, data).write.format("noop").mode("overwrite").save())
      c -> (System.nanoTime() - t0) / 1e9
    }

  /** One pass over every query: the first construction fills the
    * per-session memos and builds the storage tables (in this set-up's
    * fresh `java.io.tmpdir`).
    */
  def warmup(spark: SparkSession, t: Tracer): Unit =
    names.foreach(n => SparkEntry.queries(n)(spark, data).collect())

  def atRoundEnd: Boolean = !pass.hasNext

  def nextOp(): String = {
    if (!pass.hasNext) pass = rng.shuffle(names).iterator
    pass.next()
  }

  def run(spark: SparkSession, name: String, t: Tracer): Op = {
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val (rows, schema) = t.span("query") {
        val df = t.span("queries.construct")(SparkEntry.queries(name)(spark, data))
        t1 = System.nanoTime()
        (t.span("queries.execute")(df.collect()), df.schema)
      }
      val t2 = System.nanoTime()
      val d = Digest(rows)
      val ok = first.get(name) match {
        case None => first(name) = (rows, schema, d); true
        case Some((_, _, d0)) => d0.sameAs(d)
      }
      Op(0, name, "", t0, t2, t1 - t0, ok,
        if (ok) "" else s"result differs from this query's first run",
        Map("rows" -> rows.length))
    } catch {
      case e: Throwable =>
        Op(0, name, "", t0, System.nanoTime(), t1 - t0, false,
          e.toString.take(300), Map.empty)
    }
  }

  def finish(spark: SparkSession, ops: Seq[Op], corrupt: Boolean): Map[String, Any] = {
    val dir = new File(out, "results")
    val written = first.keys.toSeq.sorted
    val victim = written.find(n => first(n)._1.nonEmpty)
    written.foreach { n =>
      val (rows0, schema, _) = first(n)
      val rows = if (corrupt && victim.contains(n)) rows0.dropRight(1) else rows0
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(new File(dir, n).getPath)
    }
    val oracle = written.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    Map("results_dir" -> dir.getPath, "oracle" -> oracle,
      "corrupted" -> (if (corrupt) victim.getOrElse("") else ""))
  }

  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    val ids = ops.map(_.id).toSet
    val mine = spans.filter(s => ids(s.op))
    def total(name: String): Double =
      mine.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    val perFamily = families.values.toSeq.distinct.map { f =>
      val fo = ops.filter(o => families.get(o.name).contains(f))
      s"queries.$f.wall_s" -> (if (fo.isEmpty) 0.0 else fo.map(_.wall).sum / fo.size)
    }
    Map("queries.construct_s" -> total("queries.construct") / n,
      "queries.execute_s" -> total("queries.execute") / n) ++ perFamily
  }
}

/** Order-insensitive result fingerprint: row count, a wrapping sum of
  * per-row hashes over the non-floating fields, and the sum of the
  * floating fields (compared with a relative tolerance, since parallel
  * aggregation may reorder floating-point additions between runs).
  */
final case class Digest(rows: Long, hash: Long, fsum: Double) {
  def sameAs(o: Digest): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(fsum - o.fsum) <= 1e-6 * math.max(1.0, math.abs(fsum))
}

object Digest {
  def apply(rows: Array[Row]): Digest = {
    var h = 0L
    var fs = 0.0
    def walk(v: Any): Int = v match {
      case null => 0
      case d: Double => if (!d.isNaN) fs += d; 1
      case f: Float => if (!f.isNaN) fs += f; 1
      case r: Row => r.toSeq.foldLeft(17)((acc, x) => acc * 31 + walk(x))
      case s: collection.Seq[_] => s.foldLeft(19)((acc, x) => acc * 31 + walk(x))
      case m: collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => walk(k) * 31 + walk(x) }.sum
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case x => x.hashCode
    }
    rows.foreach(r => h += walk(r))
    Digest(rows.length, h, fs)
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  def bytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(bytes).sum
}

/** The paper's hourly pipeline as ops. Each op is one cycle: parse one
  * fetch (`data/cycle_NNNNN.json`), `fullLoad` into three parquet sinks,
  * `appendBatch` the parsed rows into a commit-log table (checkpoint every
  * `checkpoint_every` commits) and force a read of both back.
  */
final class WeatherWorkload(a: Map[String, String], out: File) extends Workload {
  private val data = new File(a("data"))
  private val warm = new File(a("warm"))
  private val every = a.getOrElse("checkpoint_every", "10").toInt
  private val root = new File(out, "weather")
  private def sinksAt(d: File) = WeatherSinks(
    ParquetSink(new File(d, "fact").getPath),
    ParquetSink(new File(d, "weekly").getPath),
    ParquetSink(new File(d, "humidity").getPath))
  private val sinks = sinksAt(root)
  private val table = new File(root, "commitlog").getAbsolutePath
  private var cycle = 0
  private val periodStart = lit("2024-06-03 00:00:00").cast("timestamp")
  private val periodEnd = lit("2024-06-10 00:00:00").cast("timestamp")
  private val clock = lit("2024-06-01 00:00:00").cast("timestamp")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def cycleFile(d: File, c: Int) = new File(d, f"cycle_$c%05d.json")

  private def runCycle(spark: SparkSession, d: File, c: Int, s: WeatherSinks,
      tbl: String, t: Tracer): Long = {
    val obs = t.span("pipeline.parse") {
      val o = ForecastJsonSource.parse(spark.read.text(cycleFile(d, c).getPath)
        .withColumnRenamed("value", "payload")).persist()
      o.count()
      o
    }
    try {
      t.span("pipeline.load")(
        WeatherPipeline.fullLoad(spark, obs, s, periodStart, periodEnd, clock))
      t.span("storage.append")(CommitLog.appendBatch(tbl, obs, c.toLong))
      if ((c + 1) % every == 0) t.span("storage.checkpoint")(CommitLog.checkpoint(tbl))
      val snap = t.span("storage.read")(CommitLog.read(spark, tbl))
      t.span("storage.scan")(force(snap))
      t.span("sinks.read")(force(s.fact.read(spark)))
      obs.count()
    } finally obs.unpersist()
  }

  /** Creates empty sinks and an empty commit-log table. */
  def build(spark: SparkSession, t: Tracer): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Files.rm(root)
    new File(table).mkdirs()
    Seq("tables" -> (System.nanoTime() - t0) / 1e9)
  }

  /** Two small cycles into scratch sinks and a scratch table (removed
    * afterwards), as a service warms its pipeline.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit = {
    val d = new File(out, "weather-warm")
    Files.rm(d)
    val s = sinksAt(d)
    (0 until 2).foreach(c => runCycle(spark, warm, c, s,
      new File(d, "commitlog").getAbsolutePath, t))
    Files.rm(d)
  }

  override def hasNext: Boolean = cycleFile(data, cycle).isFile

  def atRoundEnd: Boolean = cycle % every == 0

  def nextOp(): String = {
    val c = cycle
    cycle += 1
    f"cycle_$c%05d"
  }

  def run(spark: SparkSession, name: String, t: Tracer): Op = {
    val c = name.stripPrefix("cycle_").toInt
    val t0 = System.nanoTime()
    try {
      val parsed = t.span("cycle")(runCycle(spark, data, c, sinks, table, t))
      val t1 = System.nanoTime()
      Op(0, name, "", t0, t1, 0L, true, "", Map("parsed_rows" -> parsed))
    } catch {
      case e: Throwable =>
        Op(0, name, "", t0, System.nanoTime(), 0L, false, e.toString.take(300),
          Map.empty)
    }
  }

  def finish(spark: SparkSession, ops: Seq[Op], corrupt: Boolean): Map[String, Any] = {
    val logRows = CommitLog.read(spark, table).count()
    val factRows = sinks.fact.read(spark).count()
    if (corrupt) {
      // one extra fact row whose key no fetch produced
      sinks.fact.append(sinks.fact.read(spark).limit(1)
        .withColumn("city", lit("__corrupt__")))
    }
    val version = CommitLog.latestVersion(table)
    val logDir = new File(table, "_log")
    val names = Option(logDir.listFiles()).toSeq.flatten.map(_.getName)
    val lastCkpt = names.filter(_.endsWith(".checkpoint.txt"))
      .map(_.stripPrefix("v").takeWhile(_.isDigit).toLong).maxOption.getOrElse(0L)
    Map("cycles" -> ops.size, "commit_log_rows" -> logRows, "fact_rows" -> factRows,
      "fact_dir" -> sinks.fact.asInstanceOf[ParquetSink].path,
      "weekly_dir" -> sinks.weekly.asInstanceOf[ParquetSink].path,
      "table_dir" -> table, "root_dir" -> root.getPath,
      "storage.manifests_since_checkpoint" -> (version - lastCkpt),
      "storage.live_files" -> CommitLog.liveFiles(table, version).size,
      "storage.log_bytes" -> Files.bytes(logDir))
  }

  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    val ids = ops.map(_.id).toSet
    val mine = spans.filter(s => ids(s.op))
    def total(name: String): Double =
      mine.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    Map("pipeline.parse_s" -> total("pipeline.parse") / n,
      "pipeline.load_s" -> total("pipeline.load") / n,
      "storage.append_s" -> total("storage.append") / n,
      "storage.checkpoint_s" -> total("storage.checkpoint") / n,
      "storage.read_s" -> total("storage.read") / n,
      "storage.scan_s" -> total("storage.scan") / n,
      "sinks.read_s" -> total("sinks.read") / n)
  }
}
