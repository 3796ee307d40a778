package graft.tools

import graft.{Bench, GraftSession, SparkEntry, Tables}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage profile of one query under the bench session config:
  * `runMain graft.tools.ProfileQuery <name>[,<name>…] [sfDir]`.
  *
  * Prints, for the query's SECOND run (steady state, codegen warm), every
  * stage with wall time, task count, total task time, shuffle read/write
  * bytes and records — the local-mode stand-in for the Spark UI's stage
  * table (guide §1.1/§7.1), which is disabled in the bench session.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    final case class St(name: String, submitted: Long, completed: Long,
        tasks: Int, taskTimeMs: Long, srBytes: Long, srRecords: Long,
        swBytes: Long, swRecords: Long, inBytes: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var collecting = false
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = e.stageInfo
          val tm = si.taskMetrics
          stages += St(si.name.takeWhile(_ != '\n'),
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            si.numTasks, tm.executorRunTime,
            tm.shuffleReadMetrics.totalBytesRead,
            tm.shuffleReadMetrics.recordsRead,
            tm.shuffleWriteMetrics.bytesWritten,
            tm.shuffleWriteMetrics.recordsWritten,
            tm.inputMetrics.bytesRead)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) jobs += ((e.jobId, 0L, 0L))
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // run 1: codegen + JIT warm-up, uncollected
      fn(spark, sfDir).count()
      Bench.dropCaches(spark)
      stages.clear(); jobs.clear()
      collecting = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      collecting = false
      Thread.sleep(300) // let the listener bus drain
      Bench.dropCaches(spark)
      println(f"PROFILE $name total=$dt%.3f s jobs=${jobs.size} stages=${stages.size}")
      val byWall = stages.sortBy(s => -(s.completed - s.submitted))
      byWall.foreach { s =>
        println(f"  wall=${(s.completed - s.submitted) / 1e3}%7.3f s " +
          f"taskTime=${s.taskTimeMs / 1e3}%7.3f s tasks=${s.tasks}%3d " +
          f"in=${s.inBytes / 1e6}%8.2f MB sr=${s.srBytes / 1e6}%8.2f MB/${s.srRecords}%-8d " +
          f"sw=${s.swBytes / 1e6}%8.2f MB/${s.swRecords}%-8d  ${s.name.take(90)}")
      }
      val wallSum = stages.map(s => s.completed - s.submitted).sum / 1e3
      println(f"  stage-wall sum=$wallSum%.3f s (gaps to total = driver/planning/barrier overhead)")
    }
    spark.stop()
  }
}
