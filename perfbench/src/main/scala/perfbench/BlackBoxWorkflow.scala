package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.prov._
import graft.prov.filegroup._
import graft.prov.filegroup.FileGroupOps._

/** A SciPhy-shaped black-box workflow, the second half of a
  * [[ProvPipeline]] unit: fasta-like inputs loaded as file groups, three
  * deterministic POSIX-sh steps run per group through
  * `runScientificApplication` (tr / tr / `wc -c`, as in `SciPhyDemo`),
  * every group committed to a fresh git repository, the outputs saved, and
  * the session closed. The queries `SciPhyDemo` makes on the written store
  * follow.
  *
  * The timed part is the whole workflow, `ProvSession.create` through
  * `close()`. An untraced run keeps the single action chain; a traced run
  * materialises each step before the next, so that the steps and the git
  * commits separate into their own spans.
  */
final class BlackBoxWorkflow {
  import BlackBoxWorkflow._

  private var inputs: Path = _
  private var scripts: Path = _
  private var contents: IndexedSeq[Array[Byte]] = _
  private val walls, queryWalls = scala.collection.mutable.ArrayBuffer[Double]()

  def prepare(seed: Long, dir: Path): Unit = {
    val rng = new Random(seed)
    inputs = Files.createDirectories(dir.resolve("inputs"))
    contents = (0 until groups).map { g =>
      val size = 1024 + rng.nextInt(15 * 1024)
      val sb = new StringBuilder(s">seq$g synthetic\n")
      while (sb.length < size) {
        (0 until 60).foreach(_ => sb += "ACGT".charAt(rng.nextInt(4)))
        sb += '\n'
      }
      val bytes = sb.toString.getBytes(US_ASCII)
      Files.write(inputs.resolve(s"${name(g)}.fasta"), bytes)
      bytes
    }
    scripts = Files.createDirectories(dir.resolve("scripts"))
    def script(n: String, body: String): Unit = {
      val p = scripts.resolve(n)
      Files.write(p, s"#!/bin/sh\n$body\n".getBytes(US_ASCII))
      p.toFile.setExecutable(true)
    }
    script("align.cmd", """tr 'ACGT' 'TGCA' < "$1.fasta" > "$1.aln"""")
    script("convert.cmd", """tr 'a-z' 'A-Z' < "$1.aln" > "$1.phylip"""")
    script("tree.cmd", """wc -c < "$1.phylip" > "$1.tree"""")
  }

  private def name(g: Int): String = f"G$g%04d"

  /** The bytes each output file must hold. */
  private def expected(g: Int): Map[String, Array[Byte]] = {
    val fasta = contents(g)
    val aln = fasta.map(b => (b.toChar match {
      case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
      case c => c
    }).toByte)
    val phylip = aln.map(b => b.toChar.toUpper.toByte)
    val n = name(g)
    Map(s"$n.fasta" -> fasta, s"$n.aln" -> aln, s"$n.phylip" -> phylip,
      s"$n.tree" -> s"${phylip.length}\n".getBytes(US_ASCII))
  }

  private final case class Outcome(session: ProvSession, vc: GitVersionControl,
                                   result: ProvDataset[FileGroup], out: Path,
                                   repo: Path, store: Path)

  private def workflow(run: Run, root: Path, n: Int, timed: Boolean): Outcome = {
    val spark = run.spark
    def sp[A](s: String)(body: => A): A = if (timed) run.span(s)(body) else body
    // materialise a step on its own only in a traced run
    def step(s: String, ds: ProvDataset[FileGroup]): ProvDataset[FileGroup] =
      if (timed && run.traced) sp(s) { ds.count(); ds } else ds
    val store = root.resolve("store")
    val repo = root.resolve("repo")
    val out = root.resolve("out")
    val vc = new GitVersionControl(repo.toString)
    val session = sp("workflow.create")(ProvSession.create(spark, "blackbox",
      store.toString, versionControl = Some(vc)))
    spark.conf.set("spark.graft.scriptDir", scripts.toString)
    val loaded = step("filegroup.load", fileGroup(session, (0 until n).map { g =>
      FileGroupTemplate.ofFile(inputs.resolve(s"${name(g)}.fasta").toString,
        Map("NAME" -> name(g)))
    }: _*).setName("load fasta inputs"))
    val s1 = step("filegroup.step1",
      loaded.runScientificApplication("align.cmd {{NAME}}").setName("align"))
    val s2 = step("filegroup.step2",
      s1.runScientificApplication("convert.cmd {{NAME}}").setName("convert"))
    val s3 = step("filegroup.step3",
      s2.runScientificApplication("tree.cmd {{NAME}}").setName("tree"))
    val result = sp("vcs.commit")(s3.persistFileGroupInGit(vc))
    sp("filegroup.save")(result.saveFilesAt(out.toString))
    sp("workflow.close")(session.close())
    Outcome(session, vc, result, out, repo, store)
  }

  /** A small untimed workflow, for the JVM's first compilations. */
  def warmup(run: Run): Unit = {
    val root = run.scratch("warmup-workflow")
    workflow(run, root, 8, timed = false)
    Main.deleteTree(root)
  }

  /** One workflow, its output checks and its queries; returns its wall. */
  def runOnce(run: Run): Option[Double] = {
    val root = run.scratch("workflow")
    val o = run.timed("workflow", walls)(workflow(run, root, groups, timed = true))
    o.foreach { o =>
      checkOutputs(run, o)
      queryPhase(run, o)
    }
    Main.deleteTree(root)
    o.map(_ => walls.last)
  }

  /** Per-unit layer values after `units` workflows. */
  def finish(run: Run, units: Int): Unit = {
    val tr = run.tracer
    Seq("filegroup.load" -> "filegroup.load_s",
      "filegroup.step1" -> "filegroup.step1_s",
      "filegroup.step2" -> "filegroup.step2_s",
      "filegroup.step3" -> "filegroup.step3_s",
      "filegroup.save" -> "filegroup.save_s", "vcs.commit" -> "vcs.commit_s")
      .foreach { case (span, m) => run.layer(m) = tr.selfSeconds(span) / units }
    Seq("filegroup.processes", "filegroup.out_mb", "vcs.commits", "vcs.repo_mb")
      .foreach(m => run.layer(m) = run.layer.getOrElse(m, 0.0) / units)
    run.detail("workflow_wall_s") = (Main.median(walls.toSeq), "s")
  }

  private def checkOutputs(run: Run, o: Outcome): Unit = {
    val byName = (0 until groups).map(g => name(g) -> g).toMap
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
    }
    val dirs = list(o.out)
    var bad = 0
    var processes = 0
    dirs.foreach { d =>
      val files = list(d)
      val g = files.map(_.getFileName.toString.takeWhile(_ != '.'))
        .flatMap(byName.get).headOption
      val exp = g.map(expected).getOrElse(Map.empty)
      val ok = exp.nonEmpty && files.size == exp.size && files.forall { f =>
        exp.get(f.getFileName.toString).exists(java.util.Arrays.equals(_,
          Files.readAllBytes(f)))
      }
      if (ok) processes += 3 else bad += 1
    }
    run.check("blackbox_outputs", dirs.size == groups && bad == 0,
      s"${dirs.size} output groups, $bad differ from the expected transform")
    val commits = o.vc.log(o.session.executionId)
      .count(m => m.startsWith("FileGroup ") || m.startsWith("finish execution"))
    run.check("vcs_commits", commits == groups + 1,
      s"$commits commits on the execution branch, expected ${groups + 1}")
    run.add("filegroup.processes", processes.toDouble)
    run.add("filegroup.out_mb", Main.treeBytes(o.out)._1 / 1048576.0)
    run.add("vcs.commits", commits.toDouble)
    run.add("vcs.repo_mb", Main.treeBytes(o.repo)._1 / 1048576.0)
  }

  /** The queries `SciPhyDemo` makes after its workflow, one client in a
    * closed loop: the task graph, the tree artifacts and their value table.
    * They are timed as spans but kept out of the pipeline's query metrics.
    */
  private def queryPhase(run: Run, o: Outcome): Unit = {
    val execId = o.session.executionId
    val q = new ProvenanceQueries(run.spark, o.store.toString)
    val rows = Seq(
      run.timed("workflow.task_graph", queryWalls)(q.taskGraph(execId).count()),
      run.timed("workflow.produced_by", queryWalls)(
        q.producedBy(execId, o.result.taskId).count()),
      run.timed("workflow.value_table", queryWalls)(
        q.valueTable(execId, o.result.taskId).count()))
    run.check("tree_artifacts", rows(1).contains(groups.toLong),
      s"producedBy returned ${rows(1)} tree artifacts, expected $groups")
  }
}

object BlackBoxWorkflow {
  val groups = 128

  val layer: Seq[String] = Seq("filegroup.load_s", "filegroup.step1_s",
    "filegroup.step2_s", "filegroup.step3_s", "filegroup.processes",
    "filegroup.save_s", "filegroup.out_mb", "vcs.commit_s", "vcs.commits",
    "vcs.repo_mb")
}
