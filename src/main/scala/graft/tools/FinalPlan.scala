package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the FINAL (post-AQE) physical plan of a query after running it:
  * `runMain graft.tools.FinalPlan <name> [sfDir]`. `Explain` shows the
  * initial plan (`isFinalPlan=false`); runtime join-strategy switches and
  * coalesced reads only appear here. Plans executed while the query was
  * BUILT (eager barriers, driver-side counts) print first, each under
  * `== executed (<action>) ==`: the final plan reads a barrier's result
  * as an RDD scan, so the table scans behind it show only there.
  */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(s"== executed ($action) ==\n${qe.executedPlan}")
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val df = SparkEntry.queries(args(0))(spark, sfDir)
    // Execute df's own QueryExecution without materializing rows on the
    // driver (count() would re-plan; collect() risks OOM on wide results).
    df.queryExecution.toRdd.foreach(_ => ())
    val finalPlan = df.queryExecution.executedPlan.toString
    Bench.dropCaches(spark)
    spark.stop() // drains the listener bus, so `executed` is complete
    executed.forEach(println(_))
    println(finalPlan)
  }
}
