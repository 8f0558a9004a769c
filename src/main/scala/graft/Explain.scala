package graft

import graft.plans.GraftExtensions

/** Plan-audit main: prints the formatted physical plan for each (or one
  * named) query so pushdown/broadcast/shuffle structure can be reviewed.
  * Usage: runMain graft.Explain [queryName] [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftExtensions
      .builder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val targets = name match {
      case Some(n) => Seq(n -> SparkEntry.queries(n))
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    targets.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
