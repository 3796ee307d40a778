package graft

/** Focused timing for one or more queries (comma-separated):
  * `runMain graft.BenchOne <name>[,<name>…] [sfDir]`.
  * Same session config as Bench; prints best/median/worst of 3 runs each.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val raw = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.dropCaches(spark)
        dt
      }
      val times = raw.sorted
      println(f"BENCHONE $name best=${times.head}%.3f median=${times(1)}%.3f " +
        f"worst=${times(2)}%.3f runs=${raw.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
