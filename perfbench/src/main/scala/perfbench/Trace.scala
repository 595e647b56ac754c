package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{Assemble, Features, Labeler, Lineage, LocalSnapshotIO, Pipeline,
  Structure, Synthetic, ZoneModel, ZoneModelArtifact}
import graft.plans.BodySpans

/** One span: a run, a job or a layer call. Times are nanoseconds from the
 * start of the run. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
    rowsIn: Long, rowsOut: Long)

/** Spans kept in memory for the whole run and written when it ends. */
final class Tracer(val traceId: String) {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // span 0 is the run
  private var nextId = 1

  /** Run `f` as a child of the innermost open span; `rowsOut` reads the
   * output row count from its result. */
  def span[A](name: String, rowsIn: Long = -1L)(f: => A)(rowsOut: A => Long): A = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val start = System.nanoTime() - t0
    try {
      val a = f
      done += Span(id, parent, name, start, System.nanoTime() - t0, rowsIn, rowsOut(a))
      a
    } finally stack = stack.tail
  }

  /** A span's duration minus the part of it that its children cover. */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (0L, 0L)
    kids.foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    covered += ce - cs
    (s.end - s.start) - covered
  }

  /** Write every span, the run included, as JSON lines. */
  def write(path: String, runName: String): Unit = {
    val all = Span(0, -1, runName, 0L, System.nanoTime() - t0, -1L, -1L) +: done.toSeq
    val lines = all.sortBy(_.start).map { s =>
      Main.json(Map("trace_id" -> traceId, "span_id" -> s.id, "parent_id" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "duration_s" -> (s.end - s.start) / 1e9, "self_s" -> selfNs(s, all) / 1e9,
        "rows_in" -> s.rowsIn, "rows_out" -> s.rowsOut))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The traced run's layer walk: every layer is timed alone, from outside,
 * by calling its public function once on a materialized input. A layer
 * whose output feeds the next one is timed writing that output to parquet;
 * the others are timed writing to the noop sink. Each layer runs on the
 * input of the workload that exercises it, all generated from the run's
 * seed: role-signal zoning and the stage-2 tail on transcripts, content
 * zoning on the same generator with role and tool dropped, the chunked
 * path and snapshots on the giant conversation. */
object Trace {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  private val observed = new java.util.concurrent.atomic.AtomicLong
  /** Row count of `df` as `write` writes it, observed in the same job. */
  private def countWhile(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation(s"rows_${observed.incrementAndGet()}")
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  private val bodyLineCols = Seq("conv_id", "turn_idx", "role", "tool", "block_idx",
    "line_in_turn", "line_idx", "line").map(col)
  private val fsmCols = Seq("conv_id", "turn_idx", "line_in_turn", "tok_idx",
    "tok", "sep_before", "line_trailing", "f_capitalisation").map(col)

  /** The layers a workload's job is made of; their summed times are
   * compared with its untraced job time. */
  val jobLayers: Map[String, Seq[String]] = Map(
    "transcripts" -> Seq("Structure.keptLines", "Features.segmenter", "Labeler.zones",
      "Structure.tokensFromLines", "Features.body", "BodySpans.spans", "spans.write"),
    "giant_resumable" -> Seq("Pipeline.labeledBodyTokensChunked", "TableIO.commit",
      "TableIO.read", "Assemble.bodySpansChunked"))

  /** Spark-side counters of one job. */
  def sparkMetrics(d: Counters, m: Metrics): Unit = {
    m("spark.analysis_ms") = (d.analysisMs.toDouble, "ms")
    m("spark.optimization_ms") = (d.optimizationMs.toDouble, "ms")
    m("spark.planning_ms") = (d.planningMs.toDouble, "ms")
    m("spark.codegen_ms") = (d.codegenNs / 1e6, "ms")
    m("spark.jobs") = (d.jobs.toDouble, "count")
    m("spark.stages") = (d.stages.toDouble, "count")
    m("spark.tasks") = (d.tasks.toDouble, "count")
    m("spark.gc_s") = (d.gcMs / 1e3, "s")
    m("spark.spill_mb") = (d.spillBytes / 1e6, "MB")
    m("spark.shuffle_fetch_wait_s") = (d.fetchWaitMs / 1e3, "s")
  }

  def layers(spark: SparkSession, acct: Accounting, tr: Tracer, wl: Workload, dir: String,
      seed: Long, jobS: Double, m: Metrics): Unit = {
    def path(n: String) = s"$dir/trace/$n"
    def read(n: String) = spark.read.parquet(path(n))
    def save(df: DataFrame, n: String): Long =
      countWhile(df)(_.write.mode("overwrite").parquet(path(n)))
    def noop(df: DataFrame): Long =
      countWhile(df)(_.write.format("noop").mode("overwrite").save())

    /** Time `body` as layer `name`: wall time, task CPU per input row,
     * output rows and shuffle bytes written. */
    def timed(name: String, rowsIn: Long, skew: Boolean = false)(body: => Long): Long = {
      val a0 = acct.snapshot()
      val (rowsOut, wall) = Main.time(tr.span(name, rowsIn)(body)(identity))
      val a = acct.snapshot() - a0
      m(s"$name.wall_s") = (wall, "s")
      m(s"$name.cpu_ns_per_row") = (a.cpuNs.toDouble / math.max(1L, rowsIn), "ns")
      m(s"$name.rows_out") = (rowsOut.toDouble, "count")
      m(s"$name.shuffle_mb") = (a.shuffleWriteBytes / 1e6, "MB")
      if (skew) m(s"$name.max_task_over_median") = (acct.maxTaskOverMedian(a0), "ratio")
      rowsOut
    }
    def wallOnly(name: String, rowsIn: Long)(df: => DataFrame): Unit =
      m(s"$name.wall_s") = (Main.time(tr.span(name, rowsIn)(noop(df))(identity))._2, "s")

    // inputs, from the run's seed
    val tTurns = tr.span("input transcripts")(save(
      Synthetic.transcripts(spark, Workloads.transcriptConvs, seed), "t_turns"))(identity)
    tr.span("input documents")(save(
      Synthetic.transcripts(spark, Workloads.documentConvs, seed)
        .withColumn("role", lit(null).cast("string"))
        .withColumn("tool", lit(null).cast("string")), "d_turns"))(identity)
    val gTurns = tr.span("input giant")(save(
      Synthetic.giantConv(spark, Workloads.giantTurns, seed), "g_turns"))(identity)

    // stage 1, role-signal zoning
    val lines = Structure.lines(read("t_turns")).agg(count(lit(1)), sum(col("kept").cast("long")))
      .head()
    m("Structure.keptLines.kept_share") = (lines.getLong(1).toDouble / lines.getLong(0), "ratio")
    val kept = timed("Structure.keptLines", tTurns)(save(Structure.keptLines(read("t_turns")), "t_kept"))
    val seg = timed("Features.segmenter", kept)(save(Features.segmenter(read("t_kept")), "t_seg"))
    val zoned = timed("Labeler.zones", seg)(save(Labeler.zones(read("t_seg")), "t_zoned"))
    val body = save(read("t_zoned").where(col("zone") === "<body>").select(bodyLineCols: _*), "t_body")
    m("Labeler.zones.body_share") = (body.toDouble / zoned, "ratio")

    // stage 1, content zoning and the trained zone model
    val dKept = save(Structure.keptLines(read("d_turns")), "d_kept")
    val hinted = timed("Labeler.zonesContent", dKept)(save(Labeler.zonesContent(read("d_kept"))
      .withColumnRenamed("zone", "hint").drop("zone_label"), "d_hinted"))
    val model = ZoneModelArtifact.load(spark).getOrElse(
      throw new IllegalStateException("the zone model artifact is missing"))
    timed("ZoneModel.apply", hinted)(noop(ZoneModel.apply(read("d_hinted"), model)))

    // stage 2
    val toks = timed("Structure.tokensFromLines", body)(
      save(Structure.tokensFromLines(read("t_body")), "t_toks"))
    val feats = timed("Features.body", toks)(
      save(Features.body(read("t_toks")).select(fsmCols: _*), "t_feats"))
    val spans = timed("BodySpans.spans", feats, skew = true)(
      save(BodySpans.spans(read("t_feats")), "t_spans"))
    timed("spans.write", spans)(save(read("t_spans"), "t_spans_out"))

    // the chunked path and snapshots, on the giant conversation
    val c = Workloads.chunkTurns
    val gKept = save(Structure.keptLines(read("g_turns")), "g_kept")
    val gBody = timed("Labeler.bodyLinesChunked", gKept)(
      save(Labeler.bodyLinesChunked(read("g_kept"), c).select(bodyLineCols: _*), "g_body"))
    timed("Structure.tokensFromLinesChunked", gBody)(
      noop(Structure.tokensFromLinesChunked(read("g_body"), c)))
    val fails = Lineage.newStats(spark, "perfbench_failures")
    val labeled = timed("Pipeline.labeledBodyTokensChunked", gTurns, skew = true)(
      save(Pipeline.labeledBodyTokensChunked(read("g_turns"), c, Some(fails)), "g_labeled"))
    m("Lineage.parse_failures") = (fails.value.values.map(_._1).sum.toDouble, "count")
    // the sequential twins of the chunked path, on the same input
    val gFeats = save(Features.body(Structure.tokensFromLines(read("g_body"))).select(fsmCols: _*),
      "g_feats")
    timed("Labeler.bodyLabels", gFeats, skew = true)(noop(Labeler.bodyLabels(read("g_feats"))))
    wallOnly("Pipeline.labeledBodyTokens", gTurns)(Pipeline.labeledBodyTokens(read("g_turns")))
    wallOnly("Pipeline.extract", gTurns)(Pipeline.extract(read("g_turns")))
    wallOnly("Pipeline.extractChunked", gTurns)(Pipeline.extractChunked(read("g_turns"), c))
    timed("Assemble.bodySpansChunked", labeled)(noop(Assemble.bodySpansChunked(read("g_labeled"), c)))
    val io = new LocalSnapshotIO(path("g_snapshots"))
    timed("TableIO.commit", labeled)({ io.commit(read("g_labeled"), "labeled", "s1"); labeled })
    timed("TableIO.read", labeled)(noop(io.read(spark, "labeled")))

    // decomposition: the summed layer times against the untraced job
    val layerSum = jobLayers(wl.name).map(l => m(s"$l.wall_s")._1).sum
    m("trace.layer_sum_s") = (layerSum, "s")
    m("trace.decomposition_gap") = ((layerSum - jobS) / jobS, "ratio")
  }
}
