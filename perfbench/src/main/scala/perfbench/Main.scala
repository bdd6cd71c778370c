package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One run of one workload: the inputs, the clock, the counters and what
  * the run has measured so far. Workloads call into the library only
  * through [[span]]/[[op]], so every timed call is counted and, in a traced
  * run, recorded as a span.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Tracer, val probe: Option[SparkProbe],
                val work: Path) {
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer[(String, Boolean, String)]()
  /** Per-layer values, summed over units of work. */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Workload-specific figures reported beside the metrics: name → (value, unit). */
  val detail = mutable.LinkedHashMap[String, (Double, String)]()
  /** Wall of each unit of work (one pipeline, workflow or query pass). */
  val unitWalls = ArrayBuffer[Double]()
  /** Wall of each individually timed call (queries of the workload). */
  val opWalls = ArrayBuffer[Double]()
  private var scratchN = 0

  def traced: Boolean = tracer.enabled

  def span[A](name: String)(body: => A): A =
    tracer.span(name) {
      val r = body
      probe.foreach(_.sampleCached())
      r
    }

  def add(metric: String, v: Double): Unit =
    layer(metric) = layer.getOrElse(metric, 0.0) + v

  /** A timed call into the library: counted as attempted, its wall added
    * to `walls` when it completes; a failure is counted and the run goes on.
    */
  def timed[A](name: String, walls: ArrayBuffer[Double])(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span(name)(body)
      walls += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A query of the workload, kept in [[opWalls]]. */
  def op[A](name: String)(body: => A): Option[A] = timed(name, opWalls)(body)

  /** An output check, made outside the timed calls. A failed check counts
    * as a failed operation and fails the run.
    */
  def check(name: String, ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $what")
    }
    checks += ((name, ok, if (ok) "" else what))
  }

  /** A fresh directory under the run's work directory. */
  def scratch(prefix: String): Path = {
    scratchN += 1
    Files.createDirectories(work.resolve(s"$prefix-$scratchN"))
  }
}

trait Workload {
  /** Builds the inputs from the seed under `dir`. Repeatable. */
  def prepare(run: Run, dir: Path): Unit
  /** Untimed work before the first timed call, counted in set-up. */
  def warmup(run: Run): Unit
  /** Runs units of work until the run's seconds are spent (at least one). */
  def measure(run: Run): Unit
}

object Main {
  val cores = 4

  val workloads: Map[String, () => Workload] = Map(
    "prov_pipeline" -> (() => new ProvPipeline),
    "operator_headline" -> (() => new OperatorHeadline))

  val sparkLayer: Seq[String] = Seq("jobs", "stages", "tasks", "task_time_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "plan_s",
    "codegen_compile_s", "codegen_max_method_bytes", "cached_mb_peak")
    .map("spark." + _)

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val perLayer: Seq[String] =
    ProvPipeline.layer ++ BlackBoxWorkflow.layer ++ OperatorHeadline.layer ++
      sparkLayer :+ "trace.overhead_x"

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "unit_wall_s" -> "s", "op_p50_s" -> "s", "op_geomean_s" -> "s",
    "rss_peak_mb" -> "MB", "ok_ops_frac" -> "fraction")

  private def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb") || metric.endsWith("_mb_peak")) "MB"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("_x")) "x"
    else "count"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x)).sum / xs.size)

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  def treeBytes(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      var bytes, files = 0L
      s.filter(Files.isRegularFile(_)).forEach { q =>
        bytes += Files.size(q); files += 1
      }
      (bytes, files)
    } finally s.close()
  }

  private def loadAvg1m(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def vmHwmMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
        "UTF-8").linesIterator.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    // build steps, outside any measured run
    (arg(args, "--prepare-headline-data"), arg(args, "--record-expected")) match {
      case (None, None) =>
      case (gen, rec) =>
        val spark = session(Paths.get(arg(args, "--work").get))
        gen.foreach(dir => HeadlineData.generate(spark, Paths.get(dir)))
        rec.foreach(out => OperatorHeadline.record(spark,
          sys.props("perfbench.headlineData"), Paths.get(out)))
        spark.stop()
        return
    }
    val name = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work")))
    val outDir = Paths.get(arg(args, "--out").getOrElse(work.toString))
    val commit = arg(args, "--commit").getOrElse("unknown")
    val untracedRef = arg(args, "--untraced-unit-wall").map(_.toDouble)
    val workload = workloads.getOrElse(name,
      sys.error(s"unknown workload $name; one of ${workloads.keys.mkString(", ")}"))()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg1m()
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val runId = java.util.UUID.randomUUID().toString
    val probe = if (traced) Some(new SparkProbe(spark)) else None
    val run = new Run(spark, seed, seconds, new Tracer(traced, runId), probe, work)

    // set-up, repeated: the inputs are built three times, each into a
    // fresh directory, and the median counts; the last copy is used
    val prepS = (1 to 3).map { i =>
      val dir = work.resolve(s"inputs-$i")
      val t0 = System.nanoTime()
      workload.prepare(run, dir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) deleteTree(dir)
      dt
    }
    val w0 = System.nanoTime()
    workload.warmup(run)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(prepS) + warmupS

    probe.foreach(_.register())
    val before = probe.map(_.snapshot()).getOrElse(Counters.zero)
    val m0 = System.nanoTime()
    workload.measure(run)
    val measureS = (System.nanoTime() - m0) / 1e9
    val spent = probe.map(_.snapshot() - before).getOrElse(Counters.zero)
    probe.foreach(_.unregister())
    val loadEnd = loadAvg1m()

    val units = math.max(1, run.unitWalls.size)
    val unitWall = median(run.unitWalls.toSeq)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "unit_wall_s" -> unitWall,
      "op_p50_s" -> median(run.opWalls.toSeq),
      "op_geomean_s" -> geomean(run.opWalls.toSeq),
      "rss_peak_mb" -> vmHwmMb(),
      "ok_ops_frac" ->
        (1.0 - run.failed.toDouble / math.max(1L, run.attempted)))

    val layerValues: Map[String, Double] = if (!traced) Map.empty else {
      val sp = Seq(spent.jobs.toDouble, spent.stages.toDouble,
        spent.tasks.toDouble, spent.taskTimeS, spent.gcS, spent.shuffleReadMb,
        spent.shuffleWriteMb, spent.spillMb, spent.planS,
        spent.codegenCompileS).map(_ / units) ++
        Seq(probe.get.codegenMaxMethodBytes.toDouble, probe.get.cachedMbPeak)
      val overhead = untracedRef.filter(_ > 0).map(unitWall / _).getOrElse(0.0)
      perLayer.map(m => m -> run.layer.getOrElse(m, 0.0)).toMap ++
        sparkLayer.zip(sp) + ("trace.overhead_x" -> overhead)
    }

    val context = Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "run_id" -> runId,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "load_1m_start" -> loadStart, "load_1m_end" -> loadEnd,
      "disk_free_gb" -> work.toFile.getUsableSpace / 1e9,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version, "commit" -> commit,
      "units" -> run.unitWalls.size, "ops" -> run.opWalls.size,
      "measure_s" -> measureS, "setup_session_s" -> sessionS,
      "setup_prepare_s" -> prepS, "setup_warmup_s" -> warmupS)
    val spans = run.tracer.summary.toSeq.sortBy(_._1).map { case (n, (c, t, s)) =>
      n -> ListMap("count" -> c, "total_s" -> t, "self_s" -> s)
    }
    val detailLine = Json.obj(Seq(
      "context" -> ListMap(context: _*),
      "workload_figures" -> ListMap(run.detail.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u)
      }: _*),
      "unit_walls_s" -> run.unitWalls.toSeq, "op_walls_s" -> run.opWalls.toSeq,
      "checks" -> run.checks.toSeq.map { case (n, ok, w) =>
        ListMap("name" -> n, "ok" -> ok, "detail" -> w)
      },
      "spans" -> ListMap(spans: _*)))
    val runTag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    Files.createDirectories(outDir)
    if (traced) run.tracer.write(outDir.resolve(s"$runTag-spans.jsonl"))
    Files.write(outDir.resolve(s"$runTag-detail.json"),
      (detailLine + "\n").getBytes("UTF-8"))

    val metrics =
      if (traced) perLayer.map(m => m -> ListMap("value" -> layerValues(m),
        "unit" -> unitOf(m)))
      else endToEnd.map { case (m, u) => m -> ListMap("value" -> e2e(m), "unit" -> u) }
    val correct = run.failed == 0 && run.attempted > 0
    println("perfbench detail " + detailLine)
    println(Json.obj(Seq("correct" -> correct, "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> ListMap(metrics: _*))))
    System.out.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }
}
