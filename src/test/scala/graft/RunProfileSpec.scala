package graft

import java.util.concurrent.Executors

import org.apache.spark.sql.functions.broadcast

import graft.core.RunProfile

/** graft.core.RunProfile: what one run's Spark jobs did, scoped to the
  * run's thread by its job tag. */
class RunProfileSpec extends SparkSpec {
  import spark.implicits._

  test("a profile counts its own thread's work only, and a broadcast join's exactly") {
    // 100 keys in 4 partitions joined to 10 broadcast keys in 2 partitions,
    // then 3 groups: every match sits in partition 0
    val a = spark.range(0, 100, 1, 4).toDF("k")
    val b = spark.range(0, 10, 1, 2).toDF("k")
    def query() = a.join(broadcast(b), "k").groupBy(($"k" % 3).as("g")).count().collect()
    query() // first run compiles; the profiled one reuses it
    // a thread started before the run does not carry the run's tag
    val other = Executors.newSingleThreadExecutor()
    try {
      other.submit((() => 0L): java.util.concurrent.Callable[Long]).get()
      val (rows, prof) = RunProfile.record(spark) {
        other.submit((() => spark.range(0, 1000, 1, 3).count()): java.util.concurrent.Callable[Long]).get()
        query()
      }
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(3L, 3L, 4L))
      // AQE runs three jobs of one stage each: the broadcast (2 tasks), the
      // join + partial aggregate map stage (4 tasks, 3 partial rows, all
      // from partition 0) and the final aggregate (shuffle coalesced to 1
      // partition, its map stage skipped); the other thread's count is
      // neither a job nor a query of this run
      assert((prof.jobs, prof.stages, prof.tasks) == (3, 3, 7), prof.toString)
      assert((prof.shuffleWriteRecords, prof.shuffleReadRecords) == (3L, 3L), prof.toString)
      assert(prof.stageList.map(_.tasks) == Seq(2, 4, 1), prof.toString)
      assert(prof.queries.map(q => (q.action, q.failed, q.outputRows)) == Seq(("collect", false, 3L)))
      assert(prof.queries.head.operators.contains("BroadcastHashJoin" -> 10L), prof.queries.head.operators)
      assert(Set("analysis", "optimization", "planning").subsetOf(prof.phaseMs.keySet), prof.phaseMs)
    } finally other.shutdown()
  }
}
