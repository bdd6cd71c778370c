package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The operator surface with no provenance work: the 32 headline queries,
  * each run once through the noop sink in a fresh JVM, so that every timed
  * execution is the query's first and pays its planning and codegen as a
  * pipeline run would. An untimed query outside the set warms the JVM
  * first. The seed permutes the query order; the tables are the fixed
  * [[HeadlineData]] set.
  *
  * One unit of work is the pass over the 32 queries; a run makes one pass
  * whatever its seconds. After the pass, the row counts and
  * order-insensitive hashes of a seed-chosen share of the queries are
  * checked against `headline_expected.tsv`.
  */
final class OperatorHeadline extends Workload {
  import OperatorHeadline._

  private var data: String = _

  def prepare(run: Run, dir: Path): Unit = {
    data = sys.props.getOrElse("perfbench.headlineData",
      sys.error("perfbench.headlineData is not set"))
    HeadlineData.tables.foreach { case (t, _) =>
      run.spark.read.parquet(s"$data/$t.parquet").schema
    }
  }

  private def execute(spark: SparkSession, q: String): Unit =
    try SparkEntry.queries(q)(spark, data)
      .write.mode("overwrite").format("noop").save()
    finally spark.catalog.clearCache()

  override def warmup(run: Run): Unit = execute(run.spark, warmupQuery)

  def measure(run: Run): Unit = {
    val order = new Random(run.seed).shuffle(queries)
    var family = Map.empty[String, Counters].withDefaultValue(Counters.zero)
    order.foreach { q =>
      val before = run.probe.map(_.snapshot())
      run.op(s"op.$q")(execute(run.spark, q)).foreach { _ =>
        run.layer(s"op.$q.wall_s") = run.opWalls.last
      }
      for (p <- run.probe; b <- before) {
        val d = p.snapshot() - b
        run.layer(s"op.$q.jobs") = d.jobs.toDouble
        family = family.updated(familyOf(q), family(familyOf(q)) + d)
      }
    }
    family.foreach { case (f, c) =>
      run.layer(s"fam.$f.task_time_s") = c.taskTimeS
      run.layer(s"fam.$f.shuffle_mb") = c.shuffleWriteMb
      run.layer(s"fam.$f.plan_s") = c.planS
      run.layer(s"fam.$f.codegen_compile_s") = c.codegenCompileS
    }
    if (run.opWalls.size == queries.size) run.unitWalls += run.opWalls.sum
    run.detail("headline_total_s") = (run.opWalls.sum, "s")
    run.detail("headline_geomean_s") = (Main.geomean(run.opWalls.toSeq), "s")
    checkOutputs(run)
  }

  /** Re-runs a seed-chosen share of the queries with a digest sink and
    * compares row counts and hashes with the recorded ones; over ten seeds
    * nearly every query is checked at least once.
    */
  private def checkOutputs(run: Run): Unit = {
    val expected = readExpected()
    new Random(run.seed * 13 + 5).shuffle(queries).take(checkedPerRun).foreach { q =>
      val got = scala.util.Try(digest(SparkEntry.queries(q)(run.spark, data)))
      run.spark.catalog.clearCache()
      run.check(s"headline_$q", expected.get(q).exists(got.toOption.contains),
        s"$q gave ${got.fold(_.toString, d => d.toString)}, expected ${expected.get(q)}")
    }
  }
}

object OperatorHeadline {
  /** A copy of `graft.Bench.defaultHeadline`, fixed here so that the
    * benchmark keeps measuring the same set if the harness list changes.
    */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_agg", "q05_nation_revenue",
    "q17_window_rank", "q18_window_running", "q28_events_hourly",
    "q56_asof_attribution", "q66_event_funnel",
    "d01_exact_dedup", "d04_minhash_lsh", "d09_minhash_lsh_capped",
    "d10_segment_dedup", "d12_substring_dedup", "d13_bloom_incremental",
    "d15_cross_decontamination", "mm06_shot_boundaries",
    "mm07_phash_neardup",
    "e01_knn_bruteforce", "e09_ann_pq", "e16_ann_pq_rerank",
    "e22_hybrid_rrf", "e23_mmr_rerank", "e26_ivf_append",
    "e30_index_persistence",
    "t04_fingerprint", "t11_sequence_packing", "t15_c4_filter",
    "t21_quality_classifier", "t22_bigram_perplexity",
    "q42_topk_per_key_custom",
    "q69_sole_returned_supplier", "e13_ann_recall_kmeans")

  val warmupQuery = "q02_filter_project"

  val checkedPerRun = 3

  val families: Seq[String] = Seq("q", "d", "mm", "e", "t")

  def familyOf(q: String): String = q.takeWhile(_.isLetter)

  val layer: Seq[String] =
    queries.flatMap(q => Seq(s"op.$q.wall_s", s"op.$q.jobs")) ++
      families.flatMap(f => Seq("task_time_s", "shuffle_mb", "plan_s",
        "codegen_compile_s").map(m => s"fam.$f.$m"))

  /** Row count and an order-insensitive hash of a result: the exact sum of
    * the rows' 64-bit hashes. Top-level floating columns are rounded to 6
    * decimals first, so summation order cannot flip a hash; map columns
    * are hashed through their JSON form.
    */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readExpected(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/headline_expected.tsv")
    require(in != null, "headline_expected.tsv is missing from the classpath")
    try new String(in.readAllBytes(), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2)))).toMap
    finally in.close()
  }

  /** Writes the expected digests of every query on the data set. */
  def record(spark: SparkSession, data: String, out: Path): Unit = {
    val lines = queries.map { q =>
      val (n, h) = digest(SparkEntry.queries(q)(spark, data))
      spark.catalog.clearCache()
      s"$q\t$n\t$h"
    }
    Files.write(out, lines.mkString("# query\trows\thash\n", "\n", "\n")
      .getBytes(UTF_8))
  }
}

/** The fixed tables of the operator workload, with the schema, row counts
  * and value ranges of the library's sf0.1 test tables. Relational and
  * event columns derive from row ids through a hash, documents and vectors
  * from a fixed seed, so every build of the set is identical.
  */
object HeadlineData {
  val tables: Seq[(String, Long)] = Seq("region" -> 5L, "nation" -> 25L,
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  private def rows(t: String): Long = tables.toMap.apply(t)

  /** A deterministic integer in [0, n) from the row id and a salt. */
  private def h(salt: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(n))

  /** A deterministic double in [0, 1). */
  private def u(salt: Int): Column = h(salt, 1000000L).cast(DoubleType) / 1e6

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(salt, values.size) + 1).cast(IntegerType))

  private def day(salt: Int, from: String, days: Long): Column =
    (to_timestamp(lit(from)) + make_interval(lit(0), lit(0), lit(0),
      h(salt, days).cast(IntegerType))).cast(TimestampNTZType)

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  def generate(spark: SparkSession, dir: Path): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val tmp = Paths.get(dir.toString + ".tmp")
    Main.deleteTree(tmp)
    def range(t: String) = spark.range(rows(t))
    def write(t: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(tmp.resolve(s"$t.parquet").toString)

    write("region", range("region").select(
      col("id").cast(IntegerType).as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast(IntegerType))
        .as("r_name")))
    write("nation", range("nation").select(col("id").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast(IntegerType).as("n_regionkey")))
    write("customer", range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(1, 25).cast(IntegerType).as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    write("supplier", range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(4, 25).cast(IntegerType).as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal")))
    write("part", range("part").select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("large", "hot", "blue", "small", "green",
        "red", "cold", "fast")), pick(7, Seq("ring", "bolt", "nut", "gear",
        "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), h(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (h(10, 50) + 1).cast(IntegerType).as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    write("orders", range("orders").select(col("id").as("o_orderkey"),
      h(11, rows("customer")).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write("lineitem", range("lineitem").select(
      h(16, rows("orders")).as("l_orderkey"),
      h(17, rows("part")).as("l_partkey"),
      h(18, rows("supplier")).as("l_suppkey"),
      (h(19, 7) + 1).cast(IntegerType).as("l_linenumber"),
      (h(20, 50) + 1).cast(DoubleType).as("l_quantity"),
      money(21, 900.0, 105000.0).as("l_extendedprice"),
      (h(22, 11) / 100.0).as("l_discount"),
      (h(23, 9) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate")))
    write("events", range("events").select(col("id").as("event_id"),
      (to_timestamp(lit("2024-01-01")) + make_interval(lit(0), lit(0), lit(0),
        lit(0), lit(0), lit(0), (col("id") * 25.92 + u(27) * 25.92)
          .cast(DecimalType(18, 6)))).cast(TimestampNTZType).as("ts"),
      h(28, 1500).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(u(30) * u(31) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", h(32, 100)).as("props")))
    write("documents", documents(spark))
    write("embeddings", embeddings(spark))
    Main.deleteTree(dir)
    Files.move(tmp, dir)
  }

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Word-salad documents; every twentieth one repeats an earlier
    * document with a suffix, so the near-duplicate operators find pairs.
    */
  private def documents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rng = new Random(42)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until rows("documents").toInt).foreach { i =>
      texts += (if (i % 20 == 19) texts(i - 7) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size)))
          .mkString(" "))
    }
    val langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh")
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rng.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
  }

  /** Unit vectors in 64 dimensions around ten labelled centres. */
  private def embeddings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rng = new Random(42)
    val centres = Seq.fill(10)(Seq.fill(64)(rng.nextGaussian()))
    (0 until rows("embeddings").toInt).map { i =>
      val label = rng.nextInt(10)
      val v = centres(label).map(_ * 0.15 + rng.nextGaussian() * 0.1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }.toDF("vec_id", "embedding", "label").coalesce(1)
  }
}
