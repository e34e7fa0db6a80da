package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload, inside one JVM:
  *
  *   perfbench.Main --workload febrl_uniform --data <inputs> --work <scratch>
  *     --seconds 5 --trace 0 --result <file> [--trace-file <file>]
  *
  * Set-up (session start, untimed warm-up, any model the job needs) runs
  * `Setups` times from a stopped session; the last one's session is kept.
  * Then whole jobs run back to back, one at a time, until `--seconds` have
  * passed. With `--trace 1` the first half of that time runs untraced jobs
  * and the second half traced jobs, each followed by the layer probe.
  * Output checks run last, on what the last job wrote. The result file
  * holds medians over jobs; run.py turns it into the printed record. A
  * value that was not measured is left out of it, never written as 0.
  */
object Main {

  /** Set-ups per run, the first in a cold JVM; `setup_s` is their median. */
  val Setups = 2

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-key median over samples (a key missing from a sample is skipped). */
  def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map(k => k -> median(samples.flatMap(_.get(k)))).toMap

  /** Heap in use plus non-heap (metaspace, code cache), MB. Read right
    * after a full collection it is the memory the session holds live. */
  def liveMb(): Double = {
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM, MB (set mostly by the fixed heap). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status"), StandardCharsets.UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    json.writeValue(new File(path), v)
  }

  private val started = System.nanoTime()

  /** Progress on stderr, with seconds since the JVM's main began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val w = Workloads(a("workload"))
    val off = new Tracer(None)
    def env(t: Tracer) = Env(a("data"), a("work"), cpus, t)

    val checks = ArrayBuffer.empty[(String, Option[String])]
    val untracedJobs = ArrayBuffer.empty[Map[String, Double]]
    val tracedJobs = ArrayBuffer.empty[Map[String, Double]]
    val setupTimes = ArrayBuffer.empty[Double]
    val liveSamples = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = off

    /** Untimed: a full collection, then (untraced) the live memory it
      * leaves. Spark's ContextCleaner frees the blocks of the broadcasts and
      * shuffles the first collection found unreachable on its own thread;
      * without the pause and second collection the figure read 0 or ~18 MB
      * of them at random. */
    def collect(t: Tracer): Unit = {
      System.gc()
      Thread.sleep(500)
      System.gc()
      if (!t.enabled) liveSamples += liveMb()
    }

    /** One whole job, between untimed collections so each job starts from
      * a collected heap and what it leaves live is measured. */
    def runJob(t: Tracer): Map[String, Double] = {
      collect(t)
      val (m, dt) = Workloads.seconds(t.span("job")(w.job(spark, env(t))))
      collect(t)
      m + ("job_s" -> m.getOrElse("job_s", dt))
    }

    try {
      w.prepare(env(off))
      log("inputs read")
      (1 to Setups).foreach { _ =>
        if (spark != null) stop(spark)
        setupTimes += Workloads.seconds {
          spark = session(cpus, a("work"))
          w.setup(spark, env(off))
        }._2
        log(f"set-up ${setupTimes.size} took ${setupTimes.last}%.2fs")
      }
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val untracedFor = if (traced) seconds / 2 else seconds
      while (untracedJobs.isEmpty || elapsed < untracedFor) {
        untracedJobs += runJob(off)
        log(f"job ${untracedJobs.size} took ${untracedJobs.last("job_s")}%.2fs")
      }
      if (traced) {
        tracer = new Tracer(Some(spark.sparkContext))
        while (tracedJobs.isEmpty || elapsed < seconds) {
          val job = runJob(tracer)
          val jobSpan = tracer.last("job").get
          val layers = tracer.span("probe")(w.probe(spark, env(tracer)))
          tracer.flush()
          val sparkTotals = SparkSummary(tracer.stagesIn(tracer.subtree(jobSpan.id)))
          // the job's own phase timings are reported as job.<name>; a
          // layer figure the job measured keeps its layer's name
          val phases = job.map { case (k, v) => (if (k.contains('.')) k else s"job.$k") -> v }
          tracedJobs += phases ++ layers ++ sparkTotals
        }
        tracer.close()
      }
      checks ++= w.check(spark, env(off))
      log("checks done")
    } catch {
      case t: Throwable =>
        // a call that throws is one failed operation
        t.printStackTrace()
        checks += ("run" -> Some(s"${t.getClass.getName}: ${t.getMessage}"))
    }

    val jobs = medians(untracedJobs.toSeq)
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        val m = medians(tracedJobs.toSeq)
        m ++ (for (t <- m.get("job.job_s"); u <- jobs.get("job_s")) yield "trace.overhead_s" -> (t - u))
      }
    val e2e = Map(
      "setup_s" -> Option.when(setupTimes.size == Setups)(median(setupTimes.toSeq)),
      "job_s" -> jobs.get("job_s"),
      "live_mem_mb" -> liveSamples.maxOption)
    val result = Map(
      "e2e" -> e2e.collect { case (k, Some(v)) => k -> v },
      "detail" -> (jobs ++ w.checked ++ Map(
        "jobs" -> untracedJobs.size.toDouble, "traced_jobs" -> tracedJobs.size.toDouble,
        "setups" -> setupTimes.size.toDouble, "peak_rss_mb" -> peakRssMb())),
      "layer" -> layer,
      "jobs" -> (untracedJobs.size + tracedJobs.size),
      "checks" -> checks.map { case (n, err) => Map("name" -> n, "ok" -> err.isEmpty, "message" -> err) },
      "spark_version" -> Option(spark).map(_.version).getOrElse(""),
      "jdk" -> System.getProperty("java.version"))
    writeJson(a("result"), result)
    if (tracer.spans.nonEmpty) a.get("trace-file").foreach { path =>
      writeJson(path, Map("spans" -> tracer.spans.map { s =>
        val own = SparkSummary(tracer.stagesIn(Set(s.id)))
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_s" -> (s.startNs - tracer.spans.head.startNs) / 1e9,
          "dur_s" -> s.seconds, "self_s" -> tracer.selfSeconds(s), "spark" -> own)
      }))
    }
    if (spark != null) stop(spark)
    log("stopped")
  }
}
