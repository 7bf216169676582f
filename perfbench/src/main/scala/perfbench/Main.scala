package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class RoundSample(seconds: Double, ok: Int)

/** Closed-loop op runner: each op starts when the previous one ends. A
  * failed op is recorded as failed (it never contributes its elapsed time
  * to a latency) and the run goes on.
  */
final class Runner(val trace: Option[Trace]) {
  val samples = mutable.ArrayBuffer[OpSample]()
  val errors = mutable.LinkedHashMap[String, Int]()
  /** Each measured round's wall time and successful ops. */
  val rounds = mutable.ArrayBuffer[RoundSample]()

  def op(id: String, cls: String)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val err =
      try { trace.fold(body)(_.op(id, cls)(body)); None }
      catch { case NonFatal(e) => Some(e) }
    samples += OpSample(cls, (System.nanoTime() - t0) / 1e9, err.isEmpty)
    err.foreach { e =>
      val msg = s"$cls: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      errors(msg) = errors.getOrElse(msg, 0) + 1
    }
    err.isEmpty
  }
}

/** One workload: seeded set-up, an untimed warm-up, rounds of ops, and the
  * output checks run after the timed region.
  */
trait Workload {
  /** Generates the seeded inputs under `dir`, once per run. */
  def inputs(dir: Path): Unit
  /** Builds the fixtures the ops run against under `dir`; runs
    * [[setupRuns]] times, and the last set-up is the one measured on.
    */
  def setup(dir: Path): Unit
  /** Set-ups per run; `setup_s` is their median. */
  def setupRuns: Int
  def warmUp(): Unit
  /** One round: a fixed seeded sequence of ops. */
  def round(r: Int, run: Runner): Unit
  /** Output-check failures (empty when every successful op was correct). */
  def check(): Seq[String]
  /** Each op class with the tail percentile its per-run sample count
    * supports; the per-class figures are recorded as context.
    */
  def classTails: Seq[(String, Double)]
  /** This workload's layer metrics from the traced rounds. */
  def layerMetrics(t: Trace): Seq[(String, Double)]
}

object Main {

  val Workloads = Seq("keboola_jobs", "lake_reads")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workdir: Path, commit: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("workdir")).toAbsolutePath, kv.getOrElse("commit", "unknown"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the status store keeps per-job/-query history even with the UI off;
      // cap it so the retained heap does not grow with the number of ops
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Box-speed probe (the IO-free hash-sum over `spark.range` that
    * `graft.Bench` calibrates with), recorded as context, never gated on.
    */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double =
      timed(spark.range(0L, 20000000L, 1L, 32).selectExpr("sum(xxhash64(id) & 65535) AS h").collect())._2
    once()
    (1 to 2).map(_ => once()).min
  }

  /** Heap still in use after full collections. The pause between them lets
    * Spark's ContextCleaner release what the first collection made
    * unreachable.
    */
  /** The body's result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def heapRetainedMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch { case NonFatal(e) =>
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2) }
    val code = try run(a) catch { case NonFatal(e) =>
      System.err.println(s"perfbench: run aborted: $e"); e.printStackTrace(); 2 }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    // one core is left to the client thread, JIT and GC, so the
    // run does not ask for more threads at once than the box has
    val cores = math.max(1, nproc - 1)
    Files.createDirectories(a.workdir)
    val (spark, sessionS) = timed(session(a.workdir, cores))
    try {
      val calibrationS = calibrate(spark)
      val w: Workload = a.workload match {
        case "keboola_jobs" => new KeboolaJobs(spark, a.seed)
        case "lake_reads" => new LakeReads(spark, a.seed)
      }
      val inputsS = timed(w.inputs(a.workdir.resolve("inputs")))._2
      // several set-ups, so setup_s is a median and not one cold-JIT reading
      val setupTimes = (0 until w.setupRuns).map(i => timed(w.setup(a.workdir.resolve(s"setup-$i")))._2)
      val warmS = timed(w.warmUp())._2

      // the measured region: as many whole rounds as fit in --seconds (at
      // least one; another round starts only while the mean round so far
      // still fits). The traced run measures untraced rounds for the first
      // half and traced rounds for the second, so it can report its own
      // overhead.
      var r = 0
      def phase(run: Runner, seconds: Double): (Double, Int) = {
        val p0 = System.nanoTime()
        var n = 0
        def elapsed = (System.nanoTime() - p0) / 1e9
        while (n == 0 || elapsed * (n + 1) / n <= seconds) {
          val (r0, okBefore) = (System.nanoTime(), run.samples.count(_.ok))
          w.round(r, run)
          run.rounds += RoundSample((System.nanoTime() - r0) / 1e9, run.samples.count(_.ok) - okBefore)
          r += 1; n += 1
        }
        (elapsed, n)
      }
      val plain = new Runner(None)
      val (plainS, plainRounds) = phase(plain, if (a.trace) a.seconds / 2.0 else a.seconds.toDouble)
      val traced = if (a.trace) Some(new Runner(Some(new Trace(spark, cores)))) else None
      val tracedPhase = traced.map(phase(_, a.seconds / 2.0))
      traced.flatMap(_.trace).foreach(_.close())
      val heapMb = heapRetainedMb()

      val (problems, checkS) = timed(w.check())
      val all = plain.samples.toSeq ++ traced.toSeq.flatMap(_.samples)
      val attempted = all.size
      val failed = all.count(!_.ok)
      val ok = plain.samples.filter(_.ok)
      val failedRank = plainS
      val e2e = Seq(
        "setup_s" -> (Stats.median(setupTimes), "s"),
        "op_p50_s" -> (Stats.percentile(plain.samples.toSeq, 0.5, failedRank), "s"),
        "op_p75_s" -> (Stats.percentile(plain.samples.toSeq, 0.75, failedRank), "s"),
        "ops_per_s" -> (Stats.median(plain.rounds.toSeq.map(x => x.ok / x.seconds)), "1/s"),
        "ok_ratio" -> (ok.size.toDouble / plain.samples.size, "ratio"),
        "heap_retained_mb" -> (heapMb, "MB"))

      val errs = (plain.errors.toSeq ++ traced.toSeq.flatMap(_.errors)).groupMapReduce(_._1)(_._2)(_ + _)
      val context = Seq(
        "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
        "nproc" -> Json.num(nproc), "cores" -> Json.num(cores), "commit" -> Json.str(a.commit),
        "calibration_s" -> Json.num(calibrationS), "session_s" -> Json.num(sessionS),
        "inputs_s" -> Json.num(inputsS),
        "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
        "warm_s" -> Json.num(warmS), "measured_s" -> Json.num(plainS), "check_s" -> Json.num(checkS), "rounds" -> Json.num(plainRounds),
        "round_s" -> plain.rounds.map(x => Json.num(x.seconds)).mkString("[", ",", "]"),
        "ops" -> Json.num(plain.samples.size),
        "failed_ratio" -> Json.num(plain.samples.count(!_.ok).toDouble / plain.samples.size),
        "op_p50_samples_beyond" -> Json.num(Stats.beyond(plain.samples.size, 0.5)),
        "op_p75_samples_beyond" -> Json.num(Stats.beyond(plain.samples.size, 0.75)),
        "classes" -> Json.obj(Stats.classFigures(plain.samples.toSeq, failedRank, w.classTails).map { case (k, v) => k -> Json.num(v) }),
        "errors" -> Json.obj(errs.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
        "check_failures" -> problems.take(20).map(Json.str).mkString("[", ",", "]"))
      println(Json.obj(Seq("context" -> Json.obj(context))))

      val metrics: Seq[(String, (Double, String))] = traced.flatMap(_.trace) match {
        case None => e2e
        case Some(t) =>
          val (tracedS, tracedRounds) = tracedPhase.get
          t.writeSpans(a.workdir.getParent.resolve(s"traces/${a.workload}-seed${a.seed}.jsonl"))
          val layers = Layers.all.map(m => m.name -> 0.0).toMap ++ t.coreMetrics() ++
            w.layerMetrics(t) ++ Seq(
              "trace.overhead_ratio" -> (tracedS / tracedRounds) / (plainS / plainRounds))
          Layers.all.map(m => m.name -> (layers(m.name), m.unit))
      }
      val result = Json.obj(Seq(
        "correct" -> problems.isEmpty.toString,
        "attempted" -> Json.num(attempted),
        "failed" -> Json.num(failed),
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
      problems.take(20).foreach(p => System.err.println(s"perfbench: check failed: $p"))
      println(result)
      if (problems.isEmpty) 0 else 1
    } finally spark.stop()
  }
}
