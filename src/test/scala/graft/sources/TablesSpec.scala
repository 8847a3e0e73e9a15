package graft.sources

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Pins the events load contract: a plain read whose `ts` arrives as
  * BIGINT nanos through the in-plan [[Tables.eventsNanos]] projection,
  * the same one [[Tables.loadStream]] applies.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("events load ts equals the raw timestamps' epoch nanos computed in Scala") {
    // the raw column as the JVM sees it (TIMESTAMP_NTZ for timestamp[us]
    // drops, a long for older timestamp[ns] ones), converted in Scala
    val expected = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts").collect()
      .map { r =>
        val nanos = r.get(1) match {
          case t: LocalDateTime => t.toEpochSecond(ZoneOffset.UTC) * 1000000000L + t.getNano
          case n: java.lang.Long => n.longValue
        }
        r.getLong(0) -> nanos
      }
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == LongType)
    val got = loaded.select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(expected.nonEmpty)
    assert(got.sorted.sameElements(expected.sorted))
  }

  test("events scan prunes columns to the selection") {
    val df = Tables.load(spark, dir, "events").select("ts", "user_id")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1).split(",").map(_.takeWhile(_ != ':')).toSeq)
    assert(readSchema.contains(Seq("ts", "user_id")), p)
  }

  test("a batch events load creates nothing under java.io.tmpdir") {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    // a drop this JVM has never read, so nothing about it can be memoized
    val drop = Files.createTempDirectory("graft_tbl_drop")
    Files.copy(Paths.get(s"$dir/events.parquet"), drop.resolve("events.parquet"))
    def entries(): Set[String] =
      Using.resource(Files.list(tmp))(_.iterator().asScala.map(_.getFileName.toString).toSet)
    val before = entries()
    assert(Tables.events(spark, drop.toString).where(col("ts") >= 0L).count() > 0)
    val created = entries() -- before
    assert(created.isEmpty, s"events load created $created under $tmp")
  }

  test("loadStream over documents matches the batch load exactly") {
    val batch = Tables.load(spark, dir, "documents")
    val streamDir = Files.createTempDirectory("graft_tbl_stream").toString
    Files.copy(Paths.get(s"$dir/documents.parquet"), Paths.get(s"$streamDir/documents.parquet"))
    val q = Tables.loadStream(spark, dir, "documents", streamDir)
      .writeStream.format("memory").queryName("tbl_docs")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("tbl_docs")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
