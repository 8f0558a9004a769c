package graft

/** The job recorder behind `graft.Dev profile`: it drains the listener
  * bus before detaching, so every job a body ran carries its end. */
class DevSpec extends SparkSpec {

  test("recordJobs: every job of a two-job body has an end, never before its start") {
    val jobs = Dev.recordJobs(spark) {
      spark.range(100).count()
      spark.range(50).collect()
    }
    assert(jobs.size >= 2, s"expected both jobs: $jobs")
    jobs.foreach { j =>
      assert(j.end.isDefined, s"job ${j.id} lost its end")
      assert(j.end.get >= j.start, s"job ${j.id} ends before it starts")
    }
    assert(jobs.map(_.id) === jobs.map(_.id).sorted)
  }
}
