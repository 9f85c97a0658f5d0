package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` supplies the schema Spark inferred at the last read of
  * a path, so a warm table read runs no Spark job, and it infers again
  * whenever the path's files change. */
class TablesSchemaCacheSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft-schema-cache").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("a warm Tables.load runs no Spark job") {
    val dir = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val jc = JobCounter.attach(spark.sparkContext)
    try {
      def jobsOf(body: => Unit): Long = {
        val before = jc.settled()
        body
        (jc.settled() - before).jobs
      }
      val cold = jobsOf(Tables.load(spark, dir, "t"))
      val warm = jobsOf(Tables.load(spark, dir, "t"))
      assert(cold >= 1, "the first read infers the schema with a Spark job")
      assert(warm == 0, s"the warm read ran $warm jobs")
    } finally jc.detach()
    assert(Tables.load(spark, dir, "t").as[(Int, String)].collect().sorted
      .sameElements(Seq((1, "a"), (2, "b"))))
  }

  test("a warm driftAgainst reads its unchanged reference without inferring") {
    val dir = tmp()
    val vecs = Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.3, 0.1))).toDF("id", "v")
    graft.streaming.StreamingEmbedDrift.writeReferenceMoments(vecs, "v",
      s"$dir/ref")
    val snapshot = graft.streaming.StreamingEmbedDrift.momentStream(vecs, "v")
    val jc = JobCounter.attach(spark.sparkContext)
    try {
      def jobsOf(body: => Unit): Long = {
        val before = jc.settled()
        body
        (jc.settled() - before).jobs
      }
      def drift(): Unit = graft.streaming.StreamingEmbedDrift
        .driftAgainst(spark, snapshot, s"$dir/ref")
      val cold = jobsOf(drift())
      val warm = jobsOf(drift())
      assert(warm == cold - 1,
        s"cold ran $cold jobs, warm $warm: the warm call should skip inference")
    } finally jc.detach()
  }

  test("a table overwritten with a different schema is read with the new schema") {
    val dir = tmp()
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((7L, 2.5)).toDF("id", "score")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "score"))
    assert(df.as[(Long, Double)].collect().toSeq == Seq((7L, 2.5)))
  }

  test("an events table with an epoch-nanos long ts still reads as timestamps") {
    val dir = tmp()
    val micros = 1753833600123456L
    Seq((1L, micros * 1000)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    assert(Tables.load(spark, dir, "events").schema("ts").dataType == LongType)
    // cold, then from the cached schema
    (1 to 2).foreach { _ =>
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(org.apache.spark.sql.functions.unix_micros(col("ts")))
        .as[Long].head() == micros)
    }
  }

  test("concurrent loads of one path return equal schemas") {
    val dir = tmp()
    Seq((1, "a", 2.0)).toDF("k", "v", "w").write.parquet(s"$dir/t.parquet")
    import scala.concurrent.ExecutionContext.Implicits.global
    val schemas = Await.result(Future.sequence((1 to 8).map(_ =>
      Future(Tables.load(spark, dir, "t").schema))), 2.minutes)
    assert(schemas.distinct.size == 1, schemas.distinct.mkString("\n"))
    assert(schemas.head == Tables.load(spark, dir, "t").schema)
  }
}
