package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Peak storage held by cached RDD blocks (persist, localCheckpoint and
  * the engine's builder-internal caches), from block-update events. It is
  * attached on every run: it is what `cache_peak_mb` reads.
  */
final class BlockMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var current = 0L
  @volatile var peakBytes = 0L
  @volatile var fills = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      val before = sizes.getOrElse(key, 0L)
      if (before == 0L && size > 0L) fills += 1
      if (size > 0L) sizes(key) = size else sizes.remove(key)
      current += size - before
      peakBytes = math.max(peakBytes, current)
    }
  }

  def resetPeak(): Unit = synchronized { peakBytes = current }
}

/** One finished Spark job with the counters of all its tasks. */
final case class JobRecord(
    id: Int, startMs: Long, endMs: Long, site: String,
    tasks: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long,
    inputBytes: Long)

/** Job and task counters for the traced run. The benchmark attaches it
  * around one operation at a time, so every job belongs to the span of that
  * operation; a job's call site then places it in a layer without tracing
  * inside the engine.
  */
final class JobMeter extends SparkListener {
  private final class Acc(val id: Int, val startMs: Long, val site: String) {
    var tasks, cpuNs, gcMs, shuffle, spill, input = 0L
  }
  private val open = mutable.HashMap.empty[Int, Acc]
  private val execSite = mutable.HashMap.empty[String, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // Jobs that SQL runs on its own threads (adaptive query stages,
    // broadcasts) carry the SQL execution's id; the execution's
    // description is the call site of the action that started it.
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(execSite.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    open(e.jobId) = new Acc(e.jobId, e.time, site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); a <- open.get(j); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      val root = x.rootExecutionId.filter(_ != x.executionId).flatMap(r => execSite.get(r.toString))
      execSite(x.executionId.toString) = root.getOrElse(x.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobRecord(a.id, a.startMs, e.time, a.site, a.tasks, a.cpuNs,
        a.gcMs, a.shuffle, a.spill, a.input)
    }
  }

  /** Jobs finished so far, and forget them. */
  def drain(): Seq[JobRecord] = synchronized {
    val out = done.toList
    done.clear()
    out
  }
}

object JobMeter {

  /** Block until every event posted so far has reached the listeners. */
  def flush(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.flush(sc)
}
