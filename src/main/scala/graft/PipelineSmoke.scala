package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.domain.MatchTransform
import graft.streaming.Incremental

/** Scale smoke for the streaming pipeline (not part of the driver
  * contract): runs the REAL incremental pipeline — three micro-batch
  * polls over sf-scale synthesized bronze, with duplicate arrivals
  * injected into the last poll — and asserts the resulting gold table
  * equals the one-shot batch recompute over the same bronze. The toy-
  * scale equivalence lives in StreamingSpec; this main proves it at
  * 150k matches (sf0.1). Exit code 0 iff gold ≡ batch.
  */
object PipelineSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = Files.createTempDirectory("graft_pipeline_smoke").toString
    val bronzeDir = s"$tmp/bronze"
    val silverDir = s"$tmp/silver"
    val goldDir = s"$tmp/gold"
    val ckpt = s"$tmp/ckpt"

    // `timestamp` is the INGEST audit column (the moment the extractor
    // wrote the row — Incremental's watermark contract), NOT any
    // business time from inside the payload. Stamping business time
    // here (gameCreation spans six years) advances the watermark past
    // later polls' rows and the dedup operator drops them as late —
    // this smoke originally did exactly that and silently lost half
    // the corpus, which is why Incremental's scaladoc now calls the
    // hazard out.
    val ingestBase = 1700000000L // fixed write-time epoch for poll 0
    val bronze0 = graft.queries.Domain.bronzeFromOrders(Tables.orders(spark, sfDir))
    val summoners = graft.queries.Domain.dimFromCustomer(Tables.customer(spark, sfDir))
    val bronzeAll = bronze0.withColumn("timestamp",
      to_timestamp(lit(ingestBase))) // batch comparator ignores it

    def slice(i: Int) = bronze0.filter(col("matchId").cast("long") % 3 === i)
      .withColumn("timestamp", to_timestamp(lit(ingestBase + i * 600L)))

    for (i <- 0 until 3) {
      // poll i delivers slice i; the last poll also RE-DELIVERS 1000
      // already-processed matches (at-least-once upstream) which the
      // watermarked dedup must drop
      val arriving =
        if (i < 2) slice(i)
        else slice(2).unionByName(slice(0).limit(1000))
      arriving.write.mode("append").parquet(bronzeDir)
      val t0 = System.nanoTime()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Incremental.runOnce(spark, bronzeDir, summoners, silverDir, goldDir, ckpt)
        .awaitTermination()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      println(f"poll $i: ${(System.nanoTime() - t0) / 1e9}%.1f s, $compiles codegen compiles")
    }
    Incremental.compactGold(spark, goldDir)

    val gold = Incremental.readGold(spark, goldDir).get
      .select(col("puuid"), col("champion"), col("games"), col("wins"), col("kda_sum"))
    val batch = MatchTransform.goldFromSilver(
      MatchTransform.silver(bronzeAll, summoners, includeParticipants = false))
      .select(col("puuid"), col("champion"),
        col("games").as("b_games"), col("wins").as("b_wins"), col("kda_sum").as("b_kda"))

    val joined = gold.join(batch, Seq("puuid", "champion"), "full_outer")
    val mismatches = joined.filter(
      col("games").isNull || col("b_games").isNull ||
        col("games") =!= col("b_games") || col("wins") =!= col("b_wins") ||
        abs(col("kda_sum") - col("b_kda")) > 1e-6).count()
    val nGold = gold.count()
    val nBatch = batch.count()
    println(s"gold rows=$nGold batch rows=$nBatch mismatches=$mismatches")
    spark.stop()
    if (mismatches != 0 || nGold != nBatch) {
      System.err.println("PIPELINE SMOKE FAILED")
      sys.exit(1)
    }
    println("PIPELINE SMOKE OK: streaming gold == batch recompute")
  }
}
