package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Transcripts

/** Seeded inputs and the helpers the output checks share. */
object Inputs {
  /** Seed s owns conversations [s * 10^7, s * 10^7 + n). */
  val SeedStride = 10000000L

  def firstConv(seed: Long): Long = seed * SeedStride

  /** n conversations of the seed's range, through the program's public
    * per-conversation generators (Transcripts.generate always starts at 0).
    */
  def turns(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(firstConv(seed), firstConv(seed) + n, 1, Session.partitions)
      .flatMap(c => (0 until Transcripts.turnsFor(c)).iterator.map(Transcripts.turn(c, _)))
      .toDF()
  }

  /** Row count and an order-independent hash of a table. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def delete(path: String): Unit = FileUtils.deleteDirectory(new File(path))
}
