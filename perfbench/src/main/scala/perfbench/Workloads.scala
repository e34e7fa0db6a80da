package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import graft.{CachedFrames, SparkEntry}
import graft.cli.{ApplyDupClassifier, Cli, GenerateLabeledPoints, TrainDupClassifier}
import graft.dedup.{BKV, DedupConfig, DedupPipeline, DedupStrategy, DisDedupPlanner, TrianglePipeline}
import graft.ml.{DedupMl, Febrl}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}

/** What a workload run needs besides the session: where its inputs are,
  * where it may write, how many reducers the triangle path gets. */
final case class Env(data: String, work: String, cpus: Int, tracer: Tracer) {
  def dir(name: String): String = s"$work/$name"
}

/** One benchmark workload. `job` is the user-facing run that end-to-end
  * metrics time; `probe` calls the layers' public functions one by one so
  * the traced run can time each; `check` verifies what the last job wrote. */
trait Workload {
  /** Untimed: read the generated inputs for the checks. */
  def prepare(env: Env): Unit = ()
  /** Warm-up on small inputs and any model the job needs: timed as
    * set-up, never as part of a job. */
  def setup(spark: SparkSession, env: Env): Unit
  /** One whole run; returns its phase timings in seconds (and counts). */
  def job(spark: SparkSession, env: Env): Map[String, Double]
  /** Traced runs only: per-layer timings and counts. Every workload
    * reports every per-layer metric of BENCHMARK.json. */
  def probe(spark: SparkSession, env: Env): Map[String, Double]
  /** (check name, failure message or None). */
  def check(spark: SparkSession, env: Env): Seq[(String, Option[String])]
  /** Values the checks measured, reported beside the metrics. */
  def checked: Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "febrl_uniform" => new FebrlUniform
    case "febrl_skewed" => new FebrlSkewed
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` in a span and returns its wall time. */
  def timed(env: Env, name: String)(body: => Any): Double =
    seconds(env.tracer.span(name)(body))._2

  /** Runs a CLI main, returning what it printed (also echoed to stderr). */
  def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    val out = buf.toString("UTF-8")
    System.err.print(out)
    out
  }

  private val F1 = """f1=([0-9.]+)""".r.unanchored

  def printedF1(out: String): Double = out match {
    case F1(v) => v.toDouble
    case _ => throw new IllegalStateException(s"TrainDupClassifier printed no f1: $out")
  }

  /** Forces every output column of `df`'s physical plan. */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** The pair-file layout GenerateLabeledPoints writes. */
  def writePairs(pairs: DataFrame, labeled: Boolean, out: String): Unit = {
    val labelCol = if (labeled) col("label").cast("string") else lit("").as("label")
    pairs.select((Seq(col("id1"), col("id2"), labelCol) ++ Febrl.featureCols.map(col)): _*)
      .write.mode("overwrite").csv(out)
  }

  /** True when `df` is the triangle path's plan: only that path scans an
    * RDD (its pair generation), the declarative plan scans the CSV alone. */
  def trianglePlan(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.isDefined

  /** Febrl read, the strategy chooser and the declarative pair layers,
    * timed one by one. */
  def probeBlocking(spark: SparkSession, env: Env, input: String,
      cfg: DedupConfig): (DataFrame, Map[String, Double]) = {
    var df: DataFrame = null
    var records = 0L
    val readS = timed(env, "febrl.read") { df = Febrl.read(spark, input); records = df.count() }
    var share = 0.0
    val chooseS = timed(env, "strategy.choose") { share = DedupStrategy.maxBlockShare(df, cfg) }
    // the path the chooser takes, read off the plan it returns
    val chosen = trianglePlan(DedupStrategy.pairFeaturesAuto(df, cfg, k = env.cpus))
    var pairs = 0L
    val candS = timed(env, "pipeline.candidate_pairs") {
      pairs = force(DedupPipeline.candidatePairs(df, cfg))
    }
    val featS = timed(env, "pipeline.pair_features") { force(DedupPipeline.pairFeatures(df, cfg)) }
    (df, Map(
      "febrl.read_s" -> readS, "febrl.records" -> records.toDouble,
      "strategy.choose_s" -> chooseS, "strategy.max_block_share" -> share,
      "strategy.triangle_chosen" -> (if (chosen) 1.0 else 0.0),
      "pipeline.candidate_pairs_s" -> candS, "pipeline.candidate_pairs" -> pairs.toDouble,
      "pipeline.pair_features_s" -> featS,
      "comparators.feature_s" -> (featS - candS),
      "comparators.pairs_per_s" -> pairs / (featS - candS)))
  }

  /** The triangle path with k = cpus reducers, timed pair generation first
    * and then with the features joined back, and the planner on the heavy
    * blocks. The heavy blocks are the benchmark's own estimate: block
    * sizes from the input CSV and TrianglePipeline's threshold
    * tau = W / (3 k ln k), restated here; the reducer balance is measured
    * from the pair-generation stage's tasks. Returns the features. */
  def probeTriangle(env: Env, df: DataFrame, cfg: DedupConfig,
      recs: IndexedSeq[Array[String]]): (DataFrame, Map[String, Double]) = {
    val k = env.cpus
    val pairsS = timed(env, "triangle.pairs") { force(TrianglePipeline.pairs(df, cfg, k)) }
    val pairsSpan = env.tracer.last("triangle.pairs").get
    val feats = TrianglePipeline.pairFeatures(df, cfg, k)
    val featS = timed(env, "triangle.pair_features") { force(feats) }
    val sizes = Checks.blockSizes(recs)
    val total = sizes.values.map(n => n * (n - 1) / 2).sum
    val tau = total / (3.0 * k * math.log(k))
    val heavy = sizes.toSeq.filter { case (_, n) => n * (n - 1) / 2 > tau }
      .map { case ((bk, v), n) => (BKV(bk, v), n) }
    var plan: Map[BKV, IndexedSeq[Int]] = Map.empty
    val assignS = timed(env, "planner.assign") {
      plan = DisDedupPlanner.assign(heavy, k, totalWork = Some(total))
    }
    val ki = heavy.sortBy(-_._2).headOption.map(h => plan(h._1).size).getOrElse(1)
    env.tracer.flush()
    val reducer = env.tracer.stagesIn(env.tracer.subtree(pairsSpan.id))
      .maxByOption(_.readRecords.sum).map(st => SparkSummary.maxOverMean(st.readRecords.toSeq))
    (feats, Map(
      "triangle.pairs_s" -> pairsS, "triangle.pair_features_s" -> featS,
      "triangle.join_back_s" -> (featS - pairsS),
      "planner.assign_s" -> assignS, "planner.heavy_blocks" -> heavy.size.toDouble,
      "planner.replication_factor" -> DisDedupPlanner.getL(ki).toDouble,
      "planner.replication_bound" -> math.sqrt(2.0 * ki)) ++
      reducer.map("triangle.reducer_records_max_over_mean" -> _))
  }

  /** The GBT fit and its evaluation on the 30% holdout. */
  def probeTrain(env: Env, ml: DataFrame, maxIter: Int): (PipelineModel, Map[String, Double]) = {
    val ((model, testDf), trainS) = seconds(env.tracer.span("ml.train")(DedupMl.train(ml, maxIter = maxIter)))
    val evalS = timed(env, "ml.evaluate") { DedupMl.evaluate(model, testDf) }
    val (total, test) = (ml.count(), testDf.count())
    (model, Map("ml.train_s" -> trainS, "ml.evaluate_s" -> evalS,
      "ml.train_rows" -> (total - test).toDouble, "ml.test_rows" -> test.toDouble))
  }

  /** Pair-file write and read-back plus the ML frame, timed one by one. */
  def probeFiles(spark: SparkSession, env: Env, feats: DataFrame, labeled: Boolean,
      out: String): (DataFrame, Map[String, Double]) = {
    val cached = feats.persist()
    try {
      cached.count()
      val writeS = timed(env, "cli.write_pairs") { writePairs(cached, labeled, out) }
      val readS = timed(env, "cli.read_pairs") { force(Cli.readPairs(spark, out)) }
      var ml: DataFrame = null
      val mlS = timed(env, "ml.to_ml_frame") {
        ml = DedupMl.toMlFrame(Cli.readPairs(spark, out), Febrl.featureCols).cache()
        ml.count()
      }
      (ml, Map("cli.write_pairs_s" -> writeS, "cli.read_pairs_s" -> readS,
        "cli.pair_file_bytes" -> Checks.dirBytes(out).toDouble, "ml.to_ml_frame_s" -> mlS))
    } finally cached.unpersist()
  }

  def scoreProbe(env: Env, model: PipelineModel, ml: DataFrame): Map[String, Double] =
    Map("ml.score_s" -> timed(env, "ml.score") { force(DedupMl.score(model, ml)) })
}

/** The reference's three jobs through their CLI mains: generate labeled
  * pairs, train, generate pairs for a held-out batch, apply. */
final class FebrlUniform extends Workload {
  import Workloads._

  private var labeled: IndexedSeq[Array[String]] = _
  private var heldout: IndexedSeq[Array[String]] = _
  private var wantL: Checks.PairSet = _
  private var wantU: Checks.PairSet = _
  private var lastF1 = 0.0
  private var applyF1 = 0.0

  private def chain(env: Env, labeledCsv: String, heldoutCsv: String, maxIter: Int,
      tag: String): Map[String, Double] = {
    val (pairsL, model) = (env.dir(s"$tag/pairs_labeled"), env.dir(s"$tag/model"))
    val (pairsU, scored) = (env.dir(s"$tag/pairs_heldout"), env.dir(s"$tag/scored"))
    val genL = timed(env, "cli.generate_labeled") {
      GenerateLabeledPoints.main(Array("--input", labeledCsv, "--output", pairsL))
    }
    var printed = ""
    val train = timed(env, "cli.train") {
      printed = captured(TrainDupClassifier.main(Array("--input", pairsL, "--model", model,
        "--maxIter", maxIter.toString)))
    }
    val genU = timed(env, "cli.generate_unlabeled") {
      GenerateLabeledPoints.main(Array("--input", heldoutCsv, "--output", pairsU, "--unlabeled"))
    }
    val apply = timed(env, "cli.apply") {
      ApplyDupClassifier.main(Array("--input", pairsU, "--model", model, "--output", scored))
    }
    Map("generate_s" -> (genL + genU), "train_s" -> train, "apply_s" -> apply,
      "holdout_f1" -> printedF1(printed))
  }

  def setup(spark: SparkSession, env: Env): Unit =
    chain(env, s"${env.data}/warm_labeled.csv", s"${env.data}/warm_heldout.csv", 5, "warm")

  override def prepare(env: Env): Unit = {
    labeled = Checks.readFebrl(s"${env.data}/labeled.csv")
    heldout = Checks.readFebrl(s"${env.data}/heldout.csv")
    wantL = Checks.expectedPairs(labeled)
    wantU = Checks.expectedPairs(heldout)
  }

  def job(spark: SparkSession, env: Env): Map[String, Double] = {
    val m = chain(env, s"${env.data}/labeled.csv", s"${env.data}/heldout.csv", FebrlUniform.MaxIter, "job")
    lastF1 = m("holdout_f1")
    m + ("pairs_per_s" -> (wantL.count + wantU.count) / m("generate_s"))
  }

  /** The triangle path, which the chooser does not take here, is timed on
    * the same batch for comparison with the declarative plan. */
  def probe(spark: SparkSession, env: Env): Map[String, Double] = {
    val (df, blocking) = probeBlocking(spark, env, s"${env.data}/labeled.csv", Febrl.config)
    val (_, triangle) = probeTriangle(env, df, Febrl.config, labeled)
    val (ml, files) = probeFiles(spark, env, DedupPipeline.pairFeatures(df, Febrl.config),
      labeled = true, env.dir("probe/pairs_labeled"))
    val (model, train) = probeTrain(env, ml, FebrlUniform.MaxIter)
    val dfU = Febrl.read(spark, s"${env.data}/heldout.csv")
    val outU = env.dir("probe/pairs_heldout")
    writePairs(DedupPipeline.pairFeatures(dfU, Febrl.config.copy(label = None)), labeled = false, outU)
    val mlU = DedupMl.toMlFrame(Cli.readPairs(spark, outU), Febrl.featureCols).cache()
    mlU.count()
    val score = scoreProbe(env, model, mlU)
    Seq(ml, mlU).foreach(_.unpersist())
    blocking ++ triangle ++ files ++ train ++ score ++ QuerySlice(spark, env)
  }

  def check(spark: SparkSession, env: Env): Seq[(String, Option[String])] = {
    val stride = 97
    val (scoredErr, f1) = Checks.scoredFile(env.dir("job/scored"), wantU)
    applyF1 = f1
    Seq(
      "labeled pairs" -> Checks.pairFile(env.dir("job/pairs_labeled"), labeled, wantL, labeled = true, stride),
      "held-out pairs" -> Checks.pairFile(env.dir("job/pairs_heldout"), heldout, wantU, labeled = false, stride),
      "scored pairs" -> scoredErr,
      "holdout_f1 band" -> Option.when(!(lastF1 >= FebrlUniform.MinF1))(
        s"holdout F1 $lastF1 below ${FebrlUniform.MinF1}"),
      "held-out F1 band" -> Option.when(!(f1 >= FebrlUniform.MinF1))(
        s"F1 of the applied model on the held-out batch $f1 below ${FebrlUniform.MinF1}"))
  }

  override def checked: Map[String, Double] = Map("heldout_f1" -> applyF1,
    "labeled_pairs" -> wantL.count.toDouble, "heldout_pairs" -> wantU.count.toDouble)
}

object FebrlUniform {
  /** GBT rounds of the measured TrainDupClassifier call (the reference
    * uses 100; 10 keeps one job near 8 s on 4 cores). */
  val MaxIter = 10
  /** Lowest holdout and held-out F1: a correct classifier measured 0.97 to
    * 1.0 across seeds; a broken one scores near 0. */
  val MinF1 = 0.9
}

/** A Zipf-skewed unlabeled batch through the strategy chooser (as
  * `SparkEntry.entry` runs it), written as the CLI writes pairs, then
  * scored by ApplyDupClassifier with a model trained during set-up.
  *
  * Its probe, like the uniform one, also runs [[QuerySlice]]: the query
  * library's layer (driver-side build work, CachedFrames) is timed in
  * traced runs only, since a third workload with its own cold JVM set-up
  * does not fit the run budget. */
final class FebrlSkewed extends Workload {
  import Workloads._

  private var recs: IndexedSeq[Array[String]] = _
  private var want: Checks.PairSet = _
  private var applyF1 = 0.0

  private def generate(spark: SparkSession, env: Env, input: String, out: String): Unit = {
    val df = Febrl.read(spark, input)
    writePairs(DedupStrategy.pairFeaturesAuto(df, Febrl.config.copy(label = None), k = env.cpus),
      labeled = false, out)
  }

  private def model(env: Env) = env.dir("setup/model")

  def setup(spark: SparkSession, env: Env): Unit = {
    val pairs = env.dir("setup/pairs_labeled")
    GenerateLabeledPoints.main(Array("--input", s"${env.data}/train.csv", "--output", pairs))
    captured(TrainDupClassifier.main(Array("--input", pairs, "--model", model(env),
      "--maxIter", FebrlSkewed.SetupMaxIter.toString)))
    generate(spark, env, s"${env.data}/warm.csv", env.dir("warm/pairs"))
    ApplyDupClassifier.main(Array("--input", env.dir("warm/pairs"), "--model", model(env),
      "--output", env.dir("warm/scored")))
  }

  override def prepare(env: Env): Unit = {
    recs = Checks.readFebrl(s"${env.data}/skewed.csv")
    want = Checks.expectedPairs(recs)
  }

  def job(spark: SparkSession, env: Env): Map[String, Double] = {
    val gen = timed(env, "dedup.generate_auto") {
      generate(spark, env, s"${env.data}/skewed.csv", env.dir("job/pairs"))
    }
    val apply = timed(env, "cli.apply") {
      ApplyDupClassifier.main(Array("--input", env.dir("job/pairs"), "--model", model(env),
        "--output", env.dir("job/scored")))
    }
    Map("generate_s" -> gen, "apply_s" -> apply, "pairs_per_s" -> want.count / gen)
  }

  /** The ML fit layer is timed on this workload's training batch, the
    * pairs the last set-up fitted its model on. */
  def probe(spark: SparkSession, env: Env): Map[String, Double] = {
    val cfg = Febrl.config.copy(label = None)
    val (df, blocking) = probeBlocking(spark, env, s"${env.data}/skewed.csv", cfg)
    val (feats, triangle) = probeTriangle(env, df, cfg, recs)
    val (ml, files) = probeFiles(spark, env, feats, labeled = false, env.dir("probe/pairs"))
    val score = scoreProbe(env, PipelineModel.load(model(env)), ml)
    ml.unpersist()
    val trainMl = DedupMl.toMlFrame(Cli.readPairs(spark, env.dir("setup/pairs_labeled")),
      Febrl.featureCols).cache()
    val (_, train) = probeTrain(env, trainMl, FebrlSkewed.SetupMaxIter)
    trainMl.unpersist()
    blocking ++ triangle ++ files ++ score ++ train ++ QuerySlice(spark, env)
  }

  def check(spark: SparkSession, env: Env): Seq[(String, Option[String])] = {
    val (scoredErr, f1) = Checks.scoredFile(env.dir("job/scored"), want)
    applyF1 = f1
    Seq(
      "skewed pairs" -> Checks.pairFile(env.dir("job/pairs"), recs, want, labeled = false, 499),
      "scored pairs" -> scoredErr,
      "skewed F1 band" -> Option.when(!(f1 >= FebrlSkewed.MinF1))(
        s"F1 of the set-up model on the skewed batch $f1 below ${FebrlSkewed.MinF1}"))
  }

  override def checked: Map[String, Double] =
    Map("skewed_f1" -> applyF1, "skewed_pairs" -> want.count.toDouble)
}

object FebrlSkewed {
  /** GBT rounds of the set-up model, which is fitted in every set-up. */
  val SetupMaxIter = 10
  /** Lowest F1 of that model on the skewed batch. It sees far more
    * negatives per positive than its uniform training batch, and measured
    * 0.79 to 0.99 across seeds; a broken classifier scores near 0. */
  val MinF1 = 0.7
}

/** The library's dedup queries over generated `customer` and `documents`
  * tables, each built, planned and executed as the repo's bench runs them
  * (`CachedFrames.begin` between build and action, a drain after). */
object QuerySlice {
  val Names: Seq[String] = Seq("dedup_pairs", "q49_entity_clusters", "q27_lsh_pairs",
    "q191_dedup_waterfall", "q250_blocking_pick")

  /** Builds, plans and executes one query. With `keep`, the result is
    * also written there as parquet, untimed, before the drain. */
  private def run(spark: SparkSession, env: Env, dir: String, name: String,
      keep: Option[String]): Map[String, Double] =
    try {
      val (df, build) = Workloads.seconds(env.tracer.span(s"query.$name.build") {
        SparkEntry.queries(name)(spark, dir)
      })
      CachedFrames.begin(df)
      val plan = Workloads.timed(env, s"query.$name.plan") { df.queryExecution.executedPlan }
      val exec = Workloads.timed(env, s"query.$name.exec") { Workloads.force(df) }
      keep.foreach(out => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
      Map(s"query.$name.build_s" -> build, s"query.$name.plan_s" -> plan,
        s"query.$name.exec_s" -> exec)
    } finally CachedFrames.drain()

  /** Every query over the tables under the inputs. The first call of a
    * run also writes the results and their oracle SQL to `check/` for the
    * DuckDB check. */
  def apply(spark: SparkSession, env: Env): Map[String, Double] = {
    val keep = Some(env.dir("check")).filterNot(d => Files.exists(Paths.get(d)))
    val m = Names.flatMap(n => run(spark, env, s"${env.data}/tables", n, keep)).toMap
    keep.foreach(out => Main.writeJson(s"$out/oracle_sql.json",
      Names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    m
  }
}
