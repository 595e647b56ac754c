package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One measured run of one workload in this JVM: a closed loop with one
 * client, jobs back to back. See `run.py` for the command line. */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
      trace: Boolean = false, work: String = "", out: String = "",
      cpus: Int = 1, driverMem: String = "", selfTest: Boolean = false)

  final case class JobRun(wall: Double, acct: Counters, digest: Option[Digest])

  /** Set-up repetitions; set-up time is their median. */
  val setupReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case "--driver-mem" :: v :: t => parse(t, o.copy(driverMem = v))
    case "--self-test" :: t => parse(t, o.copy(selfTest = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** VmHWM of this process, in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def newSession(cpus: Int): SparkSession = {
    val s = graft.Bench.mkSpark(cpus.toString)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case null => "null"
    case x => json(x.toString)
  }

  private val started = System.nanoTime()
  /** A progress line with the time since JVM start, for the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%8.2fs $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    if (o.selfTest) sys.exit(SelfTest.run(o))
    val wl = Workloads.byName(o.workload)
    val dir = o.work
    Files.createDirectories(Paths.get(dir))

    // set-up: session start plus input materialization, repeated; the last
    // repetition's session and input serve the run
    var spark: SparkSession = null
    var rows = 0L
    val setupTimes = (1 to (if (o.trace) 1 else setupReps)).map { _ =>
      if (spark != null) stopSession(spark)
      time {
        spark = newSession(o.cpus)
        rows = wl.setup(spark, dir, o.seed)
      }._2
    }
    val acct = new Accounting(spark)
    val tracer = if (o.trace) Some(new Tracer(s"${wl.name}-${o.seed}-${System.nanoTime()}")) else None
    log(s"set-up done: ${setupTimes.map(t => f"$t%.2f").mkString(" ")}")

    def runJob(i: Int): JobRun = {
      val c0 = acct.snapshot()
      val (out, wall) = time {
        try {
          val job = () => wl.job(spark, dir, i)
          Some(tracer.fold(job())(_.span(s"job $i", rows)(job())(_ => -1L)))
        } catch { case NonFatal(e) => System.err.println(s"[perfbench] job $i failed: $e"); None }
      }
      val c1 = acct.snapshot()
      val digest = out.flatMap { df =>
        try Some(Digest.of(df))
        catch { case NonFatal(e) => System.err.println(s"[perfbench] check $i failed: $e"); None }
      }
      wl.cleanup(dir, i)
      val a = c1 - c0
      log(f"job $i: $wall%.2fs; task cpu ${a.cpuNs / 1e9}%.2fs, analysis ${a.analysisMs}ms, " +
        s"optimization ${a.optimizationMs}ms, planning ${a.planningMs}ms, " +
        f"codegen ${a.codegenNs / 1e6}%.0fms, ${a.jobs} jobs, ${a.stages} stages, ${a.tasks} tasks")
      JobRun(wall, a, digest)
    }

    val cold = runJob(0)
    val reference = Digest.of(wl.reference(spark, dir))
    log("reference computed")
    // warm jobs back to back; the traced run needs one, for the
    // decomposition and the Spark-side counters
    var warm = Vector.empty[JobRun]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (warm.isEmpty || (!o.trace && (warm.size < wl.minWarmJobs || elapsed < o.seconds)))
      warm :+= runJob(warm.size + 1)

    val jobs = cold +: warm
    val failed = jobs.count(!_.digest.contains(reference))
    jobs.zipWithIndex.filter(!_._1.digest.contains(reference)).foreach { case (j, i) =>
      System.err.println(s"[perfbench] job $i output ${j.digest.getOrElse("-")} " +
        s"differs from the reference $reference")
    }

    val metrics: Trace.Metrics = scala.collection.mutable.LinkedHashMap.empty
    tracer match {
      case Some(tr) =>
        Trace.sparkMetrics(warm.head.acct, metrics)
        tr.span(s"layers ${wl.name}")(
          Trace.layers(spark, acct, tr, wl, dir, o.seed, warm.head.wall, metrics))(_ => -1L)
        tr.write(s"$dir/spans.jsonl", s"run ${wl.name}")
      case None =>
        // the JIT is still compiling through the first warm jobs of a
        // minute-long run: the first third of them is warm-up
        val measured = warm.drop(warm.size / 3)
        val jobS = median(measured.map(_.wall))
        metrics("setup_s") = (median(setupTimes), "s")
        metrics("cold_job_s") = (cold.wall, "s")
        metrics("job_s") = (jobS, "s")
        metrics("rows_per_s") = (rows / jobS, "1/s")
        metrics("task_cpu_s") = (median(measured.map(_.acct.cpuNs / 1e9)), "s")
        metrics("shuffle_mb") = (median(measured.map(_.acct.shuffleWriteBytes / 1e6)), "MB")
        metrics("peak_rss_mb") = (peakRssMb(), "MiB")
        metrics("ok_ratio") = ((jobs.size - failed).toDouble / jobs.size, "ratio")
    }

    // run context: recorded, not gated
    val context = Map(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "master" -> spark.sparkContext.master, "nproc" -> Runtime.getRuntime.availableProcessors,
      "driver_mem" -> o.driverMem, "input_rows" -> rows,
      "setup_s_samples" -> setupTimes, "cold_job_s" -> cold.wall,
      "job_s_samples" -> warm.map(_.wall), "jobs_attempted" -> jobs.size,
      "jobs_failed" -> failed,
      "calibration_ms" -> graft.Bench.calibrationMs(),
      "spark_probe_ms" -> graft.Bench.sparkProbeMs(spark))
    log("context recorded")
    acct.detach()
    stopSession(spark)

    val result = Map(
      "correct" -> (failed == 0), "attempted" -> jobs.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.write(Paths.get(o.out), (json(Map("context" -> context)) + "\n" +
      json(result) + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
