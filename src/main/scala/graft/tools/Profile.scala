package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Session, SparkEntry}

/** Dev-only plan/timing probe: runs named queries with warmup, prints
  * steady-state time and, with --plan, the formatted physical plan of the
  * last timed run (the final adaptive plan, with any exchange reuse).
  * Usage: runMain graft.tools.Profile <sfDir> <query...> [--plan]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val wantPlan = args.contains("--plan")
    val names = args.drop(1).filterNot(_.startsWith("--"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      graft.Bench.force(fn(spark, sfDir)) // warmup
      System.gc() // same convention as Bench: don't bill prior garbage
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir); graft.Bench.force(df)
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val times = runs.map(_._2)
      println(f"== $name: best ${times.min}%.3fs of ${times.map(t => f"$t%.2f").mkString(",")}")
      if (wantPlan) println(runs.last._1.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      spark.catalog.clearCache() // per-query cache policy, same as Bench
    }
    spark.stop()
  }
}
