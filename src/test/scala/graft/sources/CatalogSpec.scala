package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, TestSpark}

/** S11 persistent catalog: saveAsTable registrations must outlive the
  * registering SparkSession — the property the reference gets from Glue
  * (crawler-registered silver, CTAS-self-registered gold) and a migrating
  * user expects from `SELECT ... FROM gold_draw_summary` in a fresh
  * session.
  *
  * One JVM holds one SparkContext, so "a second session" here is a second
  * builder-created SparkSession (its own SharedState → its own metastore
  * client + catalog cache) over the same warehouse — the in-JVM equivalent
  * of a restart. The metastore itself is embedded Derby on disk; nothing
  * session-scoped (temp views, cached plans) can leak across because the
  * second session is built only after the first is cleared.
  */
class CatalogSpec extends AnyFunSuite {

  test("gold table registered via saveAsTable resolves by name in a fresh session") {
    TestSpark.spark // force the shared suite session to exist first
    val wh = Files.createTempDirectory("graft_wh").toString
    def freshHiveSession(): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = Session.builderWithCatalog(wh, "local[4]", 8).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val s1 = freshHiveSession()
    try {
      import s1.implicits._
      val gold = Seq((3046L, "ORDINARIO", 14L, 2024), (3101L, "ORDINARIO", 3L, 2025))
        .toDF("numero_sorteo", "tipo_sorteo", "total_premios", "year")
      Writers.writeGoldTable(gold, "gold_draw_summary", s"$wh/gold/draw_summary")
      val silver = Seq((3046L, "A"), (3047L, "B")).toDF("numero_sorteo", "x")
      Writers.registerSilverPersistent(silver, silver, wh)

      val s2 = freshHiveSession()
      assert(s2 ne s1, "second session must be a distinct SparkSession")
      assert(s2.catalog.tableExists("gold_draw_summary"))
      val back = s2.sql("SELECT numero_sorteo, total_premios FROM gold_draw_summary WHERE year = 2024")
      assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3046L, 14L)))
      assert(s2.sql("SELECT COUNT(*) FROM sorteos").head().getLong(0) == 2L)
      // external table: dropping metadata must not be entangled with the
      // session that wrote it; data lives at the explicit path
      assert(s2.catalog.getTable("gold_draw_summary").tableType == "EXTERNAL")

      // overwrite-idempotence THROUGH the catalog: a rebuild from s2
      // replaces the row set (rebuild input materialized first — Spark
      // rightly refuses an overwrite that reads from its own target)
      val rebuilt = {
        val s2i = s2.implicits; import s2i._
        Seq((3101L, "ORDINARIO", 3L, 2025))
          .toDF("numero_sorteo", "tipo_sorteo", "total_premios", "year")
      }
      Writers.writeGoldTable(rebuilt, "gold_draw_summary", s"$wh/gold/draw_summary")
      assert(s2.sql("SELECT COUNT(*) FROM gold_draw_summary").head().getLong(0) == 1L)
    } finally {
      // hand the shared suite session back to later specs
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }
}
