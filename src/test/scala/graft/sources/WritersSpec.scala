package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The silver sink must replace ONLY the (year, sorteo) partitions
  * present in the incoming frame: a static overwrite would wipe the
  * untouched partitions, an append would duplicate the rewritten one. Both
  * failure modes are asserted away here, next to the compaction contract:
  * rows survive, the partition layout survives, and a crashed run's
  * leftovers are repaired.
  */
class WritersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("writeSilverPartitioned rewrites only the (year, sorteo) partitions in the frame") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_dyn").toString + "/silver"
    val full = Seq((1L, "a", 2020, 1), (2L, "b", 2020, 2), (3L, "c", 2021, 1))
      .toDF("id", "v", "year", "sorteo")
    Writers.writeSilverPartitioned(full, path)

    // reprocess ONLY (2020, 2): one corrected row replaces the old one
    val redo = Seq((2L, "B2", 2020, 2), (4L, "new", 2020, 2))
      .toDF("id", "v", "year", "sorteo")
    Writers.writeSilverPartitioned(redo, path)

    val got = spark.read.parquet(path)
      .select("id", "v", "year", "sorteo")
      .collect().map(_.toSeq).toSet
    val want = Set(
      Seq(1L, "a", 2020, 1),   // untouched partition intact
      Seq(3L, "c", 2021, 1),   // untouched partition intact
      Seq(2L, "B2", 2020, 2),  // replaced, not appended alongside "b"
      Seq(4L, "new", 2020, 2))
    assert(got == want)
  }

  test("compact collapses a many-small-files table without changing its rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_compact").toString + "/t"
    // 64 tiny files
    spark.range(10000).select(col("id"), (col("id") % 97).as("v"))
      .repartition(64).write.parquet(path)
    def files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .count(p => p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
    }
    val before = spark.read.parquet(path).collect().map(_.toSeq).toSet
    assert(files == 64)
    val n = Writers.compact(spark, path) // total bytes << 128 MiB => 1 file
    assert(n == 1 && files == 1)
    val after = spark.read.parquet(path).collect().map(_.toSeq).toSet
    assert(after == before)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact-old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact-staging")))
  }

  test("compact refuses a hive-partitioned directory; compactPartitioned keeps the layout") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_compact_part").toString + "/t"
    val df = Seq.tabulate(300)(i => (i.toLong, i % 3)).toDF("id", "year")
    df.repartition(8).write.partitionBy("year").parquet(path)

    val e = intercept[IllegalArgumentException](Writers.compact(spark, path))
    assert(e.getMessage.contains("compactPartitioned"))

    def parquetFiles = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(path))) { s =>
        s.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p))
          .map(_.toString).toList
      }
    }
    val before = spark.read.parquet(path).select("id", "year")
      .collect().map(_.toSeq).toSet
    assert(parquetFiles.size > 3)
    val n = Writers.compactPartitioned(spark, path)
    assert(n == 3 && parquetFiles.size == 3) // one file per year leaf
    // key=value layout intact: partition column still inferred from paths
    assert(parquetFiles.forall(_.contains("year=")))
    val after = spark.read.parquet(path).select("id", "year")
      .collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("compact clears stale staging/backup leftovers from a crashed run") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_compact_stale").toString + "/t"
    spark.range(100).toDF("id").repartition(4).write.parquet(path)
    // simulate a crash that stranded both work dirs
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path + ".compact-old"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path + ".compact-old/orphan"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path + ".compact-staging"))
    val n = Writers.compact(spark, path)
    assert(n == 1)
    assert(spark.read.parquet(path).count() == 100)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact-old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact-staging")))
  }

  test("compact restores the backup when a crash left the live dir missing") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_compact_crash").toString + "/t"
    spark.range(100).toDF("id").repartition(4).write.parquet(path)
    // simulate a crash BETWEEN the two renames: live data only at backup
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + ".compact-old"))
    // stale staging from the same crashed run
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path + ".compact-staging"))
    val n = Writers.compact(spark, path)
    assert(n == 1)
    assert(spark.read.parquet(path).count() == 100) // rows survived the rerun
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact-old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact-staging")))
  }
}
