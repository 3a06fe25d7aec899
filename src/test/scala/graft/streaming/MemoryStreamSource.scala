package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The `MemoryStream`-backed [[StreamSource]] the seam promises for specs
  * (`StreamSource.scala:19-21`): precise in-process batch control with no
  * filesystem in the loop. `append` collects the chunk to the driver, which
  * is exactly why this implementation lives in the TEST tree only — crafted
  * spec fixtures are a handful of literal lines; the shipped queries run on
  * [[FileStreamSource]]'s distributed feed.
  *
  * Version pin (ADVICE r5): `MemoryStream`'s package
  * (`execution.streaming.runtime`) and the `classic.SQLContext` cast are
  * Spark-INTERNAL APIs, correct as of the Spark 4.1.x jars this repo builds
  * against; a Spark upgrade that moves either will fail compilation HERE,
  * in test-only code — nothing in `src/main` touches these APIs. */
final class MemoryStreamSource(spark: SparkSession) extends StreamSource {
  private implicit val ctx: org.apache.spark.sql.classic.SQLContext =
    spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
  private implicit val enc: Encoder[String] = Encoders.STRING
  private val mem = MemoryStream[String]

  override def open(spark: SparkSession): DataFrame = mem.toDF().toDF("value")

  override def append(chunk: DataFrame): Unit =
    mem.addData(chunk.collect().toSeq.map(_.getString(0)))
}

/** Spec-side sugar over [[StreamHarness.drain]] for literal line feeds. */
object TestFeeds {

  /** Feed `lines` through a [[MemoryStreamSource]] in `nChunks` micro-batches
    * (chunk boundaries = batch boundaries), mirroring the r3 harness's
    * grouping: ceil(n/nChunks) lines per chunk, in order. */
  def drainLines(spark: SparkSession, lines: Seq[String], nChunks: Int)(
      start: DataFrame => StreamingQuery): Unit = {
    import spark.implicits._
    val sz = math.max(1, (lines.length + nChunks - 1) / nChunks)
    val source = new MemoryStreamSource(spark)
    StreamHarness.drain(spark, source,
      StreamHarness.appends(source, lines.grouped(sz).toSeq.map(_.toDF("value"))))(start)
  }
}
