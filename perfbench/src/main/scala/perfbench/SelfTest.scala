package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Pipeline, Synthetic}

/** The output check's own test: a correct output passes, in any row order,
 * and a one-row change, a dropped row or a duplicated row each fail. */
object SelfTest {
  def run(o: Main.Opts): Int = {
    val spark = Main.newSession(o.cpus)
    val dir = s"${o.work}/selftest"
    val turns = Synthetic.transcripts(spark, 200, o.seed)
    Pipeline.extract(turns).write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir)
    val reference = Digest.of(Pipeline.extractDeclarative(turns))
    val first = out.orderBy("conv_id", "segment_id").select("conv_id", "segment_id").head()
    val isFirst = col("conv_id") === first.getString(0) && col("segment_id") === first.getLong(1)
    val cases: Seq[(String, DataFrame, Boolean)] = Seq(
      ("unchanged output", out, true),
      ("reordered rows", out.repartition(7).sortWithinPartitions(col("text").desc), true),
      ("one changed text", out.withColumn("text",
        when(isFirst, concat(col("text"), lit("."))).otherwise(col("text"))), false),
      ("one changed label", out.withColumn("label",
        when(isFirst, lit("<other>")).otherwise(col("label"))), false),
      ("one dropped row", out.where(!isFirst), false),
      ("one duplicated row", out.unionByName(out.where(isFirst)), false))
    val results = cases.map { case (what, df, shouldPass) =>
      val passes = Digest.of(df) == reference
      println(f"self-test  $what%-20s check ${if (passes) "passes" else "fails"}%-6s " +
        s"(expected ${if (shouldPass) "passes" else "fails"})")
      passes == shouldPass
    }
    Main.stopSession(spark)
    if (results.forall(identity)) { println("self-test ok"); 0 }
    else { println("self-test FAILED"); 1 }
  }
}
