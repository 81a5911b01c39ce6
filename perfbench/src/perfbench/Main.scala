package perfbench

import graft.{Bench, Sessions}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run (see README.md). */
final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10,
    trace: Boolean = false,
    smoke: Boolean = false,
    plantWrong: Boolean = false)

object Args {
  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--smoke" +: rest => parse(rest).copy(smoke = true)
    case "--plant-wrong" +: rest => parse(rest).copy(plantWrong = true)
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }
}

/** One timed operation as the client saw it. */
final case class OpSample(kind: String, label: String, seconds: Double, ok: Boolean)

/** What a workload sees: the session, the tracer and the op recorder.
  * Every op is timed from outside the program's public functions; its
  * output check runs after the timer stops, and the session's checkpoint
  * blocks are released after every op (as `graft.Bench` does), timed as
  * its own layer.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val workDir: Path) {
  val ops = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  var releasedRdds = 0L
  var residBlockB = 0L

  def op[A](kind: String, label: String)(body: => A)(check: A => Option[String]): Option[A] = {
    var result: Option[A] = None
    var error: Option[String] = None
    val t0 = System.nanoTime()
    tracer.span("op." + kind) {
      try result = Some(body)
      catch { case e: Throwable => error = Some(s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (error.isEmpty) error = result.flatMap(r =>
      try check(r).map(m => s"$label: $m")
      catch { case e: Throwable => Some(s"$label: check failed: $e") })
    error.foreach(failures += _)
    ops += OpSample(kind, label, secs, error.isEmpty)
    tracer.span("sessions.release") {
      releasedRdds += Sessions.releaseCheckpointBlocks(spark)
    }
    residBlockB = math.max(residBlockB, spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum)
    result.filter(_ => error.isEmpty)
  }
}

trait Workload {
  /** Generate this run's inputs under `dir`; runs once per set-up. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** Runs once after the last set-up and before the measured passes;
    * its time is the `warm_up_s` field, not a metric.
    */
  def warmUp(spark: SparkSession): Unit = ()
  /** One pass of fixed work. */
  def pass(ctx: Ctx, passNo: Int): Unit
  /** Workload-specific metrics and fields. */
  def report(ctx: Ctx, r: Report, spans: Seq[Span], jobs: Seq[(JobStats, Option[Span])]): Unit = ()
}

object Main {
  /** How many times a run sets up; `setup_s` is their median. The first
    * set-up starts the JVM's Spark classes cold; the median is taken over
    * enough warm ones that a single slow one does not decide it.
    */
  val Setups = 4

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Heap still live after a full GC: each heap pool's usage as that GC
    * left it, so allocations by Spark's background threads after the
    * collection do not count. The least of three tries, a moment apart:
    * a requested GC can be cut short while a thread holds a JNI critical
    * region (Spark's compression codecs do), and Spark's context cleaner
    * frees shuffle and broadcast blocks only after a GC has shown them
    * unreachable.
    */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }.min

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq)
    val workDir = Paths.get("").toAbsolutePath
    val workload: Workload = a.workload match {
      case "gtfs_daily" => new GtfsDaily(a)
      case "analytics_neardup" => new Analytics(a, Analytics.neardup)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val report = new Report
    // what the run started from: the working directory must be empty, so
    // no persisted index table or stale bench_details.json steers it
    val warehouse = Paths.get(sys.props.getOrElse("spark.sql.warehouse.dir", "spark-warehouse"))
    report.field("start_state", Map(
      "work_dir_entries" -> Files.list(workDir).iterator().asScala
        .map(_.getFileName.toString).filterNot(_ == "jvm.log").toSeq.sorted,
      "warehouse_tables" -> (if (Files.exists(warehouse)) Files.list(warehouse).count() else 0L),
      "bench_details_json" -> Files.exists(workDir.resolve("bench_details.json"))))

    val cores = Runtime.getRuntime.availableProcessors().toString
    var spark: SparkSession = null
    val inputs = workDir.resolve("inputs")
    // set-up is repeated and its median reported: session start, warm-up
    // and input generation, each time from nothing (once on smoke inputs)
    val setupParts = (1 to (if (a.smoke) 1 else Setups)).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores, cores)
      val t1 = System.nanoTime()
      spark.range(1000000).selectExpr("sum(id)").collect()
      val t2 = System.nanoTime()
      workload.prepare(spark, inputs)
      Seq(t1 - t0, t2 - t1, System.nanoTime() - t2).map(_ / 1e9)
    }
    val setupTimes = setupParts.map(_.sum)
    report.median("setup_s", setupTimes)
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    report.field("warm_up_s", (System.nanoTime() - w0) / 1e9)

    def canaries(): Map[String, Double] = {
      val c = Bench.canarySec()
      val (pMin, pMax) = Bench.parallelCanary(spark)
      Map("canary_sec" -> c, "pcanary_sec" -> pMin, "pcanary_max_sec" -> pMax)
    }
    val canaryStart = canaries()

    val recorder = if (a.trace) Some(new JobRecorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer
    val ctx = new Ctx(spark, tracer, workDir)
    val gc0 = gcSeconds()
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val tMs0 = System.currentTimeMillis()
    // closed loop, one client: whole passes until the time is used
    while (passWalls.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      tracer.span("pass") { workload.pass(ctx, passWalls.size) }
      passWalls += (System.nanoTime() - p0) / 1e9
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val tMs1 = System.currentTimeMillis()
    val gcS = gcSeconds() - gc0
    val canaryEnd = canaries()

    // every attempted op is timed, a failed or wrong one too
    val opTimes = ctx.ops.map(_.seconds).toSeq
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    report.median("wall_s", passWalls.toSeq)
    report.put("op_p50_s", Stats.harrellDavis(opTimes, 0.5), "s", opTimes.size)
    val (tailS, tailStat) = Stats.tail(opTimes)
    report.put("op_tail_s", tailS, "s", opTimes.size)
    report.put("error_rate", failed.toDouble / math.max(1, attempted), "ratio", attempted)

    val spans = tracer.all
    val jobs = recorder.toSeq.flatMap { r =>
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark, 10000L)
      r.snapshot().filter(j => j.startMs >= tMs0 && j.startMs <= tMs1)
        .map(j => j -> tracer.innermostAt(j.startMs))
    }
    val passes = passWalls.size.toDouble
    if (a.trace) {
      val js = jobs.map(_._1)
      // wall time inside the measured window that no job covers
      val covered = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
          if (e <= reach) (acc, reach)
          else (acc + (e - math.max(s, reach)), e)
        }._1 / 1e3
      val run = js.map(_.runMs).sum / 1e3
      report.put("spark.jobs", js.size / passes, "count", js.size)
      report.put("spark.driver_s", (measuredS - covered) / passes, "s", passWalls.size)
      report.put("spark.executor_run_s", run / passes, "s", js.size)
      report.put("spark.executor_cpu_s", js.map(_.cpuNs).sum / 1e9 / passes, "s", js.size)
      report.put("spark.scheduler_delay_s", js.map(_.schedDelayMs).sum / 1e3 / passes, "s", js.size)
      report.put("spark.core_util", run / (measuredS * cores.toDouble), "ratio", js.size)
      report.put("spark.shuffle_write_mb", js.map(_.shuffleWriteB).sum / 1048576.0 / passes, "MB", js.size)
      report.put("spark.shuffle_read_mb", js.map(_.shuffleReadB).sum / 1048576.0 / passes, "MB", js.size)
      report.put("spark.spill_mb", js.map(_.spillB).sum / 1048576.0 / passes, "MB", js.size)
      report.put("spark.input_mb", js.map(_.inputB).sum / 1048576.0 / passes, "MB", js.size)
      report.put("spark.gc_s", gcS / passes, "s", passWalls.size)
      val rel = spans.filter(_.name == "sessions.release")
      report.put("sessions.release_s", rel.map(_.seconds).sum / passes, "s", rel.size)
      report.put("sessions.released_rdds", ctx.releasedRdds / passes, "count", rel.size)
      report.put("sessions.resid_block_mb", ctx.residBlockB / 1048576.0, "MB", rel.size)
      report.put("trace.listener_s", recorder.get.busySeconds / passes, "s", js.size)
      // self time per layer: a span's duration minus its children's
      val self = spans.groupBy(_.name).map { case (n, ss) =>
        n -> Map("self_s" -> ss.map(_.selfSeconds).sum / passes,
          "calls" -> ss.size, "jobs" -> jobs.count(_._2.exists(_.name == n)))
      }
      report.field("layers", self.toSeq.sortBy(_._1).toMap)
    }
    workload.report(ctx, report, spans, jobs)
    report.put("retained_heap_mb", retainedHeapMb(), "MB")

    report.field("workload", a.workload)
    report.field("seed", a.seed)
    report.field("trace", a.trace)
    report.field("cores", cores.toInt)
    report.field("passes", passWalls.size)
    report.field("measured_s", measuredS)
    report.field("setup_samples_s", setupTimes)
    report.field("setup_parts_s", setupParts.map(p =>
      Map("session" -> p(0), "warm_up" -> p(1), "inputs" -> p(2))))
    report.field("pass_walls_s", passWalls.toSeq)
    report.field("op_p50_stat", "Harrell-Davis median")
    report.field("op_tail_stat", tailStat)
    report.field("op_counts", ctx.ops.groupBy(_.kind).map { case (k, v) => k -> v.size })
    report.field("ops", ctx.ops.map(o => Seq(o.kind, o.label, o.seconds, o.ok)))
    report.field("host_noise", Map("start" -> canaryStart, "end" -> canaryEnd))
    report.field("failures", ctx.failures.take(20).toSeq)
    report.field("attempted", attempted)
    report.field("failed", failed)
    Files.writeString(Paths.get("result.json"), report.fullJson)
    spark.stop()
  }
}
