package graft
import graft.plans.GraftExtensions

/** Dev utility: time single registered queries at sf0.1 with one warm
  * pass (`runMain graft.OneQ q43_fuzzy_link_full ...`) — for plan
  * iteration without the full Bench sweep. */
object OneQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions
      .builder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.1").write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      fn(spark, "/root/testdata/sf0.1").write.format("noop").mode("overwrite").save()
      println(f"TIMED $name ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
