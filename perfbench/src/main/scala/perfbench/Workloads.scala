package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.extract.{LocalSnapshotIO, Pipeline, Synthetic}

/** One workload: set-up writes the generated input under `dir/input`; a
 * job reads only that input; its output is digested outside the timed
 * region and compared with `reference`, which an independent path of the
 * program computes. */
trait Workload {
  def name: String
  /** Warm jobs a run makes at least, however long they take: short jobs
   * need more of them to get past the JIT's warm-up. */
  def minWarmJobs: Int
  /** Generate and materialize the input; returns the input row count. */
  def setup(spark: SparkSession, dir: String, seed: Long): Long
  /** One timed job (job `i` of the run); returns its output. */
  def job(spark: SparkSession, dir: String, i: Int): DataFrame
  /** The expected output, computed outside every timed region. */
  def reference(spark: SparkSession, dir: String): DataFrame
  /** Called after job `i`'s output was checked, to drop what it wrote. */
  def cleanup(dir: String, i: Int): Unit = ()
}

object Workloads {
  /** The span columns every extraction path produces. */
  val spanCols = Seq("conv_id", "segment_id", "label", "turn_idx", "text")
  def spans(df: DataFrame): DataFrame = df.select(spanCols.map(col): _*)

  // Sizes. Much of a job is fixed cost (planning, code generation, job
  // scheduling) whose speed drifts while the JIT warms up; enough rows per
  // job keep that drift a small share of it, and a run, set-up and cold job
  // included, near a minute at local[3].
  val transcriptConvs = 1000L
  /** Document-mode input of the traced run (content zoning, zone model). */
  val documentConvs = 150L
  /** One conversation of four chunks, so that chunk boundaries are crossed. */
  val giantTurns = 1024L
  val chunkTurns = 256

  def input(dir: String) = s"$dir/input"

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def turnsOf(nConvs: Long): Long =
    (0L until nConvs).map(Synthetic.turnsPerConv(_).toLong).sum

  /** Pipeline.extract over many ordinary conversations, written to parquet;
   * the reference is the declarative span assembly. */
  object Transcripts extends Workload {
    val name = "transcripts"
    val minWarmJobs = 5
    def output(dir: String) = s"$dir/output"
    def setup(spark: SparkSession, dir: String, seed: Long): Long = {
      Synthetic.transcripts(spark, transcriptConvs, seed)
        .write.mode("overwrite").parquet(input(dir))
      turnsOf(transcriptConvs)
    }
    def job(spark: SparkSession, dir: String, i: Int): DataFrame = {
      Pipeline.extract(spark.read.parquet(input(dir)))
        .write.mode("overwrite").parquet(output(dir))
      spark.read.parquet(output(dir))
    }
    def reference(spark: SparkSession, dir: String): DataFrame =
      Pipeline.extractDeclarative(spark.read.parquet(input(dir)))
  }

  /** Pipeline.runResumable on the chunked path over one giant conversation,
   * into a fresh snapshot root per job; the reference is the sequential
   * Pipeline.extract. */
  object GiantResumable extends Workload {
    val name = "giant_resumable"
    val minWarmJobs = 2
    def root(dir: String, i: Int) = s"$dir/snapshots/job$i"
    def setup(spark: SparkSession, dir: String, seed: Long): Long = {
      Synthetic.giantConv(spark, giantTurns, seed).write.mode("overwrite").parquet(input(dir))
      giantTurns
    }
    def job(spark: SparkSession, dir: String, i: Int): DataFrame =
      Pipeline.runResumable(spark.read.parquet(input(dir)), new LocalSnapshotIO(root(dir, i)),
        s"r$i", chunkTurns = Some(chunkTurns))
    def reference(spark: SparkSession, dir: String): DataFrame =
      Pipeline.extract(spark.read.parquet(input(dir)))
    override def cleanup(dir: String, i: Int): Unit = deleteTree(root(dir, i))
  }

  val all: Seq[Workload] = Seq(Transcripts, GiantResumable)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(throw
    new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))
}
