package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.functions.{col, sum}

import graft.prov._

/** SAMbA's own use: provenance-captured work, then queries on the stores
  * it wrote.
  *
  * Input: `k;v` lines whose keys follow a Zipf law over [[ProvPipeline.keys]]
  * keys, spread over four text files, and the same rows as parquet. The
  * skew sets each key's reduce fan-in and with it the lineage edges.
  *
  * One unit of work is two capture-ON sessions, each timed from
  * `ProvSession.create` through `close()`:
  *  - the pipeline: the typed chain `textFile → map → filter → reduceByKey
  *    → collectWithProv` and the relational chain `table → select → filter
  *    → groupByAgg`, both at element granularity. The same pipeline with
  *    capture OFF runs first, as the reference for the capture overhead;
  *  - the black-box workflow of [[BlackBoxWorkflow]].
  * After each, one client queries the store just written in a closed loop.
  */
final class ProvPipeline extends Workload {
  import ProvPipeline._

  private var input: Input = _
  private val blackbox = new BlackBoxWorkflow

  def prepare(run: Run, dir: Path): Unit = {
    blackbox.prepare(run.seed, dir.resolve("blackbox"))
    input = Input.generate(run.seed, lines)
    write(run, input.rows, dir)
    write(run, input.rows.take(warmupLines), dir.resolve("warmup"))
    input.dir = dir
  }

  private def write(run: Run, rows: IndexedSeq[Row], dir: Path): Unit = {
    val text = Files.createDirectories(dir.resolve("text"))
    (0 until files).foreach { f =>
      val body = rows.indices.filter(_ % files == f)
        .map(i => rows(i).line).mkString("", "\n", "\n")
      Files.write(text.resolve(s"part-$f.txt"), body.getBytes(UTF_8))
    }
    import run.spark.implicits._
    rows.zipWithIndex.map { case (r, i) => (i.toLong, r.key, r.v) }
      .toDF("id", "k", "v").repartition(files)
      .write.parquet(dir.resolve("parquet").toString)
  }

  /** The pipeline, a closure query and the workflow on small inputs, so
    * that the timed calls do not pay the JVM's first compilations.
    */
  override def warmup(run: Run): Unit = {
    val store = run.scratch("warmup")
    val dir = input.dir.resolve("warmup")
    pipeline(run, dir, run.scratch("warmup-off"), capture = false, timed = false)
    val o = pipeline(run, dir, store, capture = true, timed = false)
    new ProvenanceQueries(run.spark, store.toString)
      .descendantsOf(o.session.executionId, o.reduced.head.deps.head).count()
    blackbox.warmup(run)
  }

  private case class Outcome(session: ProvSession, linesTask: String,
                             reduceTask: String, reduced: Seq[ProvRecord[(String, Long)]],
                             relational: Map[String, Long])

  /** The pipeline; with `timed` its calls into `graft.prov` are spans. */
  private def pipeline(run: Run, in: Path, store: Path, capture: Boolean,
                       timed: Boolean): Outcome = {
    val spark = run.spark
    import spark.implicits._
    def sp[A](n: String)(body: => A): A = if (timed) run.span(n)(body) else body
    val s = sp("prov.create")(ProvSession.create(spark, "prov_pipeline",
      store.toString, captureEnabled = capture))
    val (lines, reduce) = sp("prov.build") {
      val l = s.textFile(in.resolve("text").toString)
      (l, l.map { l => val p = l.split(';'); (p(0), p(1).toLong) }
        .filter(_._2 % 3 != 0)
        .reduceByKey(_ + _))
    }
    val reduced = sp("prov.action")(reduce.collectWithProv())
    val rel = sp("prov.build")(RelationalProvenance.table(s,
        spark.read.parquet(in.resolve("parquet").toString), "lines",
        Seq("id"), RelationalProvenance.Granularity.Element)
      .select("project")(col("id"), col("k"), col("v"))
      .filter(col("v") % 3 =!= 0)
      .groupByAgg(Seq(col("k")), Seq(sum(col("v")).as("s"))))
    val relOut = sp("prov.action")(rel.result.collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sp("prov.flush") { s.awaitFlushes(); s.close() }
    Outcome(s, lines.taskId, reduce.taskId, reduced, relOut)
  }

  def measure(run: Run): Unit = {
    val rng = new Random(run.seed * 31 + 7)
    val t0 = System.nanoTime()
    var iters = 0
    val overheads, offWalls, onWalls = scala.collection.mutable.ArrayBuffer[Double]()
    var bytesPerElement = 0.0
    while (iters == 0 || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      iters += 1
      val store = run.scratch("store")
      // capture OFF first: the reference pipeline, not a unit
      val offStore = run.scratch("off")
      val off = run.timed("prov.off", offWalls)(
        pipeline(run, input.dir, offStore, capture = false, timed = false))
      Main.deleteTree(offStore)
      val on = run.timed("prov.pipeline_on", onWalls)(
        pipeline(run, input.dir, store, capture = true, timed = true))
      for (_ <- on; _ <- off) overheads += onWalls.last / offWalls.last
      on.foreach { o =>
        checkResults(run, o)
        off.foreach(f => run.check("capture_off_results",
          f.reduced.map(_.value).toMap == expectedFold &&
            f.relational == expectedFold, "capture-OFF results differ"))
        val execId = o.session.executionId
        val q = new ProvenanceQueries(run.spark, store.toString)
        val elements = q.elements(execId).count()
        val edges = q.elementDependencies(execId).count()
        run.check("prov_elements", elements == expectedElements,
          s"store holds $elements elements, input implies $expectedElements")
        val (bytes, nFiles) = Main.treeBytes(store)
        bytesPerElement = bytes.toDouble / math.max(1L, elements)
        run.add("prov.elements", elements.toDouble)
        run.add("prov.edges", edges.toDouble)
        run.add("prov.store_bytes", bytes.toDouble)
        run.add("prov.store_files", nFiles.toDouble)
        run.layer("prov.flush_depth_max") = math.max(
          run.layer.getOrElse("prov.flush_depth_max", 0.0),
          o.session.maxObservedFlushDepth.toDouble)
        queryPhase(run, rng, q, o)
      }
      Main.deleteTree(store)
      val workflow = blackbox.runOnce(run)
      for (_ <- on; w <- workflow) run.unitWalls += onWalls.last + w
    }
    blackbox.finish(run, iters)
    val tr = run.tracer
    Seq("prov.create" -> "prov.create_s", "prov.action" -> "prov.action_s",
      "prov.flush" -> "prov.flush_s", "prov.off" -> "prov.off_wall_s",
      "query.lineage" -> "query.lineage_s",
      "query.descendants" -> "query.descendants_s",
      "query.value_table" -> "query.value_table_s",
      "query.task_graph" -> "query.task_graph_s",
      "query.produced_by" -> "query.produced_by_s")
      .foreach { case (span, m) => run.layer(m) = tr.selfSeconds(span) / iters }
    Seq("prov.elements", "prov.edges", "prov.store_bytes", "prov.store_files",
      "query.rows_returned").foreach(m =>
      run.layer(m) = run.layer.getOrElse(m, 0.0) / iters)
    val closureCalls = tr.count("query.lineage") + tr.count("query.descendants")
    run.layer("query.jobs") =
      run.layer.getOrElse("query.jobs", 0.0) / math.max(1, closureCalls)
    run.detail("capture_wall_s") = (Main.median(onWalls.toSeq), "s")
    run.detail("capture_off_wall_s") = (Main.median(offWalls.toSeq), "s")
    run.detail("capture_overhead_x") = (Main.median(overheads.toSeq), "x")
    run.detail("store_bytes_per_element") = (bytesPerElement, "bytes")
    run.detail("lineage_query_p50_s") = (Main.median(closureWalls.toSeq), "s")
  }

  /** Walls of the lineageOf and descendantsOf calls. */
  private val closureWalls = scala.collection.mutable.ArrayBuffer[Double]()

  private lazy val expectedFold: Map[String, Long] = input.rows
    .filter(_.v % 3 != 0).groupMapReduce(_.key)(_.v)(_ + _)

  private lazy val survivors: Map[String, Seq[Int]] = input.rows.indices
    .filter(i => input.rows(i).v % 3 != 0).groupBy(i => input.rows(i).key)

  /** Elements the store must hold: per chain, one per row of every task
    * (the typed chain adds one per source file), plus one per reduce key.
    */
  private lazy val expectedElements: Long = {
    val n = input.rows.size.toLong
    val kept = survivors.values.map(_.size).sum.toLong
    val keys = survivors.size.toLong
    val typed = files + n + n + kept + keys
    val relational = n + n + kept + keys
    typed + relational
  }

  private def checkResults(run: Run, o: Outcome): Unit = {
    val typed = o.reduced.map(_.value).toMap
    run.check("typed_reduce", typed == expectedFold && o.reduced.size == typed.size,
      s"typed chain: ${typed.size} keys, fold has ${expectedFold.size}")
    run.check("relational_agg", o.relational == expectedFold,
      s"relational chain: ${o.relational.size} keys, fold has ${expectedFold.size}")
  }

  /** One client, closed loop: each call starts when the previous ended. */
  private def queryPhase(run: Run, rng: Random, q: ProvenanceQueries,
                         o: Outcome): Unit = {
    val execId = o.session.executionId
    val sources = run.op("query.produced_by") {
      q.producedBy(execId, o.linesTask).select("element_id", "values")
        .collect().map(r => r.getSeq[Seq[String]](1).head.head -> r.getString(0))
        .toMap
    }.getOrElse(Map.empty)
    run.add("query.rows_returned", sources.size.toDouble)
    // the textFile task owns one element per distinct line and one per file
    run.check("produced_by_rows", sources.size == distinctLines + files,
      s"producedBy returned ${sources.size} values, input has " +
        s"$distinctLines distinct lines in $files files")

    def closure(kind: String, id: String, expected: Long): Unit = {
      val jobs0 = run.probe.map(_.snapshot().jobs).getOrElse(0L)
      val rows = run.op(s"query.$kind") {
        (if (kind == "lineage") q.lineageOf(execId, id)
         else q.descendantsOf(execId, id)).count()
      }
      run.probe.foreach(p => run.add("query.jobs", (p.snapshot().jobs - jobs0).toDouble))
      rows.foreach { n =>
        closureWalls += run.opWalls.last
        run.add("query.rows_returned", n.toDouble)
        run.check(s"${kind}_rows", n == expected,
          s"$kind of $id returned $n rows, expected $expected")
      }
    }
    val outputs = o.reduced.sortBy(_.value._1)
    (1 to lineageCalls).foreach { _ =>
      val r = outputs(rng.nextInt(outputs.size))
      val kept = survivors(r.value._1)
      // ancestors: the kept lines, their map and filter elements, and the
      // source files holding them
      closure("lineage", r.id, 3L * kept.size + kept.map(_ % files).distinct.size)
    }
    // one kept line, which reaches its map, filter and reduce elements, and
    // one dropped line, which reaches only its map element
    val unique = input.rows.indices.filter(i => input.lineCount(input.rows(i).line) == 1)
    Seq(true, false).foreach { kept =>
      val pool = unique.filter(i => (input.rows(i).v % 3 != 0) == kept)
      val row = input.rows(pool(rng.nextInt(pool.size)))
      closure("descendants", sources(row.line), if (kept) 3L else 1L)
    }
    val n1 = run.op("query.value_table")(q.valueTable(execId, o.reduceTask).count())
    val n2 = run.op("query.task_graph")(q.taskGraph(execId).count())
    Seq(n1, n2).flatten.foreach(n => run.add("query.rows_returned", n.toDouble))
  }

  private def distinctLines: Int = input.lineCount.size
}

object ProvPipeline {
  val lines = 20000
  val warmupLines = 2000
  val keys = 10000
  val files = 4
  val zipfS = 1.0
  /** Lineage calls per unit; with two descendantsOf calls, producedBy,
    * valueTable and taskGraph, the pipeline's store gets six queries.
    */
  val lineageCalls = 1

  val layer: Seq[String] = Seq("prov.create_s", "prov.action_s",
    "prov.flush_s", "prov.off_wall_s", "prov.elements", "prov.edges",
    "prov.flush_depth_max", "prov.store_bytes", "prov.store_files",
    "query.lineage_s", "query.descendants_s", "query.value_table_s",
    "query.task_graph_s", "query.produced_by_s", "query.rows_returned",
    "query.jobs")

  final case class Row(key: String, v: Long) {
    def line: String = s"$key;$v"
  }

  final class Input(val rows: IndexedSeq[Row]) {
    var dir: Path = _
    lazy val lineCount: Map[String, Int] =
      rows.groupMapReduce(_.line)(_ => 1)(_ + _)
  }

  object Input {
    def generate(seed: Long, n: Int): Input = {
      val rng = new Random(seed)
      val cdf = (1 to keys).map(r => 1.0 / math.pow(r, zipfS)).scanLeft(0.0)(_ + _).tail
      val total = cdf.last
      def key(): String = {
        val u = rng.nextDouble() * total
        var lo = 0; var hi = keys - 1
        while (lo < hi) { val mid = (lo + hi) / 2; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
        s"k$lo"
      }
      new Input((0 until n).map(_ => Row(key(), rng.nextInt(1000000).toLong)))
    }
  }
}
