package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.{LocalDirs, SparkEntry}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Largest heap occupancy seen right after any garbage collection. With G1
  * this tracks the old generation up to the marking threshold, so it is a
  * per-layer figure, not an end-to-end one with a bound. */
final class GcWatch extends NotificationListener {
  @volatile var peakBytes = 0L
  @volatile var collections = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  beans.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
        .map(_.getUsed).sum
      collections += 1
      if (used > peakBytes) peakBytes = used
    }

  /** The peak, or the current heap use when no collection ran. */
  def peakMb: Double =
    (if (collections > 0) peakBytes
     else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1e6

  def stop(): Unit = beans.foreach(_.asInstanceOf[NotificationEmitter]
    .removeNotificationListener(this))
}

/** The benchmark's JVM side. `run.py` generates the inputs and references,
  * then runs one workload here:
  *
  *   perfbench.Main --workload W --data DIR --seed N --seconds S
  *                  --trace 0|1 --cores C --result FILE --record FILE
  *                  [--spans FILE]
  *
  * or exports the oracle SQL the references need: `--export-oracle FILE`.
  */
object Main {
  val MinJobs = 2
  val OracleQueries = Seq("corpus_curation", "cdc_merged_balances",
    "asof_purchase_click", "revenue_per_nation",
    "q5_local_supplier_volume")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }

  private def heapUsed(): Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    a.get("export-oracle") match {
      case Some(path) =>
        write(path, OracleQueries.map(q =>
          s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
          .mkString("{", ",\n", "}"))
      case None => bench(a)
    }
  }

  private def session(cores: Int, warehouse: String): SparkSession = {
    val s = LocalDirs.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def bench(a: Map[String, String]): Unit = {
    val w = Workloads.all(a("workload"))
    val dir = a("data")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val warehouse = new File(a("warehouse")).getAbsolutePath
    val runId = s"${w.name}-$seed-${ProcessHandle.current().pid()}"

    var attempted = 0L
    var failed = 0L
    var expected = Map.empty[String, (Long, Long)]
    def check(outs: Seq[Out]): Unit = {
      attempted += 1
      val bad = outs.filter(o => !expected.get(o.name).contains((o.rows, o.hash)))
      if (bad.nonEmpty) {
        failed += 1
        bad.foreach(o => System.err.println(s"[perfbench] MISMATCH ${o.name}: " +
          s"got (${o.rows}, ${o.hash}), want ${expected.get(o.name)}"))
      }
    }

    // ---- set-up: from process start (JVM boot, class loading) through a
    // ready session and the program-side fixtures to the end of one
    // untimed warm-up job (JIT and codegen of the job's plans); the session
    // part is logged in the run record as session_ready_s
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, warehouse)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val listener = new SpanListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, dir,
      new Tracer(false, spark.sparkContext, listener, runId))
    w.prepare(ctx)
    val warmOuts = w.job(ctx)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- reference check (outside timing)
    val r0 = System.nanoTime()
    expected = w.expected(ctx)
    check(warmOuts)
    System.err.println(f"[perfbench] reference check ${(System.nanoTime() - r0) / 1e9}%.2f s")

    // untimed settle jobs, checked like every other job
    for (_ <- 0 until w.settleJobs) check(w.job(ctx))

    val nJobs = math.max(MinJobs, math.ceil(seconds / w.nominalJobS).toInt)
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    def timedJob(c: Ctx): Unit = {
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val outs = try w.job(c) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] job failed: $e"); Nil
      }
      walls += (System.nanoTime() - t0) / 1e9
      cpus += (cpuBean.getProcessCpuTime - cpu0) / 1e9
      if (outs.isEmpty) { attempted += 1; failed += 1 } else check(outs)
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val env = scala.collection.mutable.LinkedHashMap[String, String](
      "workload" -> w.name, "seed" -> seed.toString, "run_id" -> runId,
      "cores" -> cores.toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_local_dir" -> spark.sparkContext.getConf
        .getOption("spark.local.dir").getOrElse("(spark default)"),
      "sql_extensions" -> spark.conf.get("spark.sql.extensions"),
      "jit" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-XX:TieredStopAtLevel")).getOrElse("tiered (C1+C2)"),
      "session_ready_s" -> f"$sessionS%.3f",
      "setup_s" -> f"$setupS%.3f")

    if (!traced) {
      val gc = new GcWatch
      while (walls.size < nJobs) timedJob(ctx)
      gc.stop()
      System.gc(); Thread.sleep(200); System.gc()
      metrics("setup_s") = (setupS, "s")
      metrics("job_p50_s") = (Stats.median(walls.toSeq), "s")
      metrics("job_cpu_s") = (Stats.median(cpus.toSeq), "s")
      metrics("retained_heap_mb") = (heapUsed() / 1e6, "MB")
      env("peak_heap_after_gc_mb") = f"${gc.peakMb}%.1f"
      env("gcs") = gc.collections.toString
      env("jobs") = walls.size.toString
      env("job_walls_s") = walls.map(x => f"$x%.3f").mkString(" ")
    } else {
      val gc = new GcWatch
      val tr = new Tracer(true, spark.sparkContext, listener, runId)
      val tctx = new Ctx(spark, dir, tr)
      val tracedWalls = ArrayBuffer.empty[Double]
      val perJob = ArrayBuffer.empty[Map[String, Double]]
      // untraced/traced pairs in alternating order, so the warm-up drift
      // across the run cancels out of trace.overhead_frac
      val pairs = 2 * math.max(1, (nJobs + 3) / 4)
      for (i <- 0 until pairs) {
        if (i % 2 == 0) timedJob(ctx)
        val root = tr.spans.size
        val outs = tr.span("job", "job")(w.job(tctx))
        PerfbenchBridge.drainListeners(spark.sparkContext)
        check(outs)
        val m = jobMetrics(tr, root, cores, spark)
        tracedWalls += m("trace.job_wall_s")
        perJob += m
        if (i % 2 == 1) timedJob(ctx)
      }
      gc.stop()
      val extra = Kernels.run(spark, tr, seed, cores) ++ w.stages(tctx) +
        ("jvm.peak_heap_after_gc_mb" -> gc.peakMb)
      PerfbenchBridge.drainListeners(spark.sparkContext)
      val stageSecs = tr.spans.filter(_.kind == "stage")
        .groupBy(_.name).map { case (n, ss) => s"${n}_s" -> ss.map(_.seconds).sum }
      val keys = perJob.flatMap(_.keys).distinct
      val med = keys.map(k => k -> Stats.median(perJob.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      val all = med ++ stageSecs ++ extra ++ Map("trace.overhead_frac" ->
        (Stats.median(tracedWalls.toSeq) / Stats.median(walls.toSeq) - 1.0))
      PerLayer.names.foreach { case (n, unit) =>
        metrics(n) = (all.getOrElse(n, 0.0), unit) }
      a.get("spans").foreach(p => write(p, tr.toJsonLines.mkString("\n")))
      env("traced_jobs") = tracedWalls.size.toString
      env("untraced_jobs") = walls.size.toString
    }
    spark.stop()

    val metricJson = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{${"\"value\""}:${Json.num(v)},${"\"unit\""}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    write(a("result"), s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metricJson}""")
    write(a("record"), env.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}"))
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** Per-layer metrics of one traced job rooted at span `root`. */
  private def jobMetrics(tr: Tracer, root: Int, cores: Int,
                         spark: SparkSession): Map[String, Double] = {
    val sub = tr.subtree(root)
    val wall = tr.spans(root).seconds
    val inc = tr.inclusive(root)
    val builds = sub.filter(_.kind == "build")
    val terms = sub.filter(_.kind == "terminal")
    def phase(p: String) = terms.map(s => tr.phases.get(s.id)
      .flatMap(_.get(p)).getOrElse(0.0)).sum
    val steps = sub.filter(_.kind == "step").groupBy(_.name)
      .map { case (n, ss) => s"${n}_s" -> ss.map(_.seconds).sum }
    val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    inc.toMap ++ steps ++ Map(
      "spark.busy_frac" -> inc.taskRunMs / 1e3 / (wall * cores),
      "driver.build_s" -> builds.map(_.seconds).sum,
      "driver.eager_jobs" -> builds.map(b => tr.inclusive(b.id).jobs).sum.toDouble,
      "exec.terminal_s" -> terms.map(_.seconds).sum,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "checkpoints.blocks_left" -> rdds.map(_.numCachedPartitions.toLong).sum.toDouble,
      "checkpoints.blocks_left_mb" -> rdds.map(r => r.memSize + r.diskSize).sum / 1e6,
      "trace.unattributed_frac" -> tr.selfSeconds(root) / wall,
      "trace.job_wall_s" -> wall)
  }
}

/** Every per-layer metric the traced run reports, with its unit. A metric
  * of a layer the workload does not call reads 0. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.busy_frac" -> "ratio", "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_records" -> "count",
    "spark.fetch_wait_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "driver.build_s" -> "s", "driver.eager_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "exec.terminal_s" -> "s",
    "checkpoints.blocks_left" -> "count", "checkpoints.blocks_left_mb" -> "MB",
    "functions.tokenize_mb_s" -> "MB/s", "functions.shingle_mb_s" -> "MB/s",
    "functions.minhash_mb_s" -> "MB/s", "functions.simhash_mb_s" -> "MB/s",
    "functions.deflate_mb_s" -> "MB/s", "functions.md5chunk_mb_s" -> "MB/s",
    "ops.TextAnalytics.quality_s" -> "s", "ops.Dedup.pairs_s" -> "s",
    "ops.Dedup.pair_yield" -> "ratio",
    "ops.Graph.pagerank_s" -> "s", "ops.Graph.ppr_s" -> "s",
    "ops.Graph.components_s" -> "s", "ops.Graph.triangles_s" -> "s",
    "sources.read_s" -> "s", "sources.write_s" -> "s",
    "ops.Relational.merge_s" -> "s", "ops.AsOf.join_s" -> "s",
    "ops.RangeJoin.count_s" -> "s", "plans.range_join_s" -> "s",
    "plans.range_join_rewritten" -> "count",
    "ops.ImageOps.features_s" -> "s", "ops.Lsh.candidates_s" -> "s",
    "ops.Projections.pca_s" -> "s",
    "jvm.peak_heap_after_gc_mb" -> "MB",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_frac" -> "ratio",
    "trace.job_wall_s" -> "s")
}
