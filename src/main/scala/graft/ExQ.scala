package graft
import graft.plans.GraftExtensions
object ExQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions
      .builder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    println("EXCHANGES=" + "Exchange".r.findAllIn(plan).length)
    println("REUSED=" + "ReusedExchange".r.findAllIn(plan).length)
    println(plan.linesIterator.filter(l => l.contains("Exchange") || l.contains("Scan parquet")).mkString("\n"))
    spark.stop()
  }
}
