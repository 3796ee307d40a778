package graft

/** Plan inspection utility: `runMain graft.Explain <query> [sfDir]` prints
  * the formatted physical plan the bench session would execute — the
  * fast check that filters push down, dims broadcast, and aggregates keep
  * their partial (map-side) phase before the exchange.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(args(0))(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
