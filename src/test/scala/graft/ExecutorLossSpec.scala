package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorAdded, SparkListenerExecutorRemoved,
  SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession

/** Child-JVM half of [[ExecutorLossSpec]]: PageRank on a two-executor
  * local cluster. Without a checkpoint directory it prints one
  * `no-dir <message>` line; with `args(0)` as the directory it kills one
  * executor once the first cut's files exist and prints `killed <id>`.
  * Once the driver has removed that executor it prints `removed <id>`,
  * then collects the result and prints one `rank <node> <rank>` line per
  * node. */
object ExecutorLossProbe {
  /** Executor ids, recorded from the first registration on. */
  val executors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val removed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var onJobEnd: () => Unit = () => ()

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.configure(
      SparkSession.builder().master("local-cluster[2,1,1024]").appName("graft-executor-loss")
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.extraListeners", classOf[ExecutorLossListener].getName),
      shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val edges = ExecutorLossSpec.edges.toDF("s", "d")
      try {
        graft.ops.Graph.pageRank(edges, "s", "d", iterations = 6, checkpointInterval = 2)
        println("no-dir none")
      } catch { case e: IllegalStateException => println(s"no-dir ${e.getMessage}") }

      val cpDir = new java.io.File(args(0))
      spark.sparkContext.setCheckpointDir(cpDir.getPath)
      def cutWritten(d: java.io.File): Boolean = Option(d.listFiles()).exists(_.exists(f =>
        if (f.isDirectory) cutWritten(f) else f.getName.startsWith("part-")))
      val killed = new java.util.concurrent.atomic.AtomicReference[String]()
      onJobEnd = () =>
        if (cutWritten(cpDir) && killed.compareAndSet(null, executors.peek())) {
          println(s"killed ${killed.get} ${spark.sparkContext.killExecutor(killed.get)}")
        }
      // both executors registered before the first job, so the kill leaves one
      while (executors.size < 2) Thread.sleep(100)
      val result = graft.ops.Graph.pageRank(edges, "s", "d", iterations = 6, checkpointInterval = 2)
      // the collect below runs after the driver has dropped the executor,
      // whichever of pageRank's jobs the kill landed in
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!removed.contains(killed.get) && System.nanoTime() < deadline) Thread.sleep(100)
      if (removed.contains(killed.get)) println(s"removed ${killed.get}")
      result.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        .foreach { case (n, r) => println(s"rank $n $r") }
    } finally spark.stop()
  }
}

/** Installed through `spark.extraListeners`, so it sees every executor
  * registration. */
class ExecutorLossListener extends SparkListener {
  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit = ExecutorLossProbe.executors.add(e.executorId)
  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = ExecutorLossProbe.removed.add(e.executorId)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ExecutorLossProbe.onJobEnd()
}

class ExecutorLossSpec extends SparkSpec {

  test("pageRank survives an executor lost after its first cut, and refuses to cut without a checkpoint dir") {
    val cpDir = Files.createTempDirectory("graft_cut").toString
    val jvmOpts = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmOpts ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.ExecutorLossProbe", cpDir)
    val (out, err) = (new StringBuffer, new StringBuffer)
    // the workers build each executor's command from SPARK_HOME's jars, and
    // read the Scala version from the environment outside a Spark build
    val proc = scala.sys.process.Process(cmd, None, "SPARK_SCALA_VERSION" -> "2.13")
      .run(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (proc.isAlive() && System.nanoTime() < deadline) Thread.sleep(200)
    if (proc.isAlive()) { proc.destroy(); fail(s"the local-cluster run did not finish in 300 s\n$out\n$err") }
    assert(proc.exitValue() == 0, s"exit ${proc.exitValue()}\n$out\n$err")
    val lines = out.toString.linesIterator.toSeq

    val noDir = lines.find(_.startsWith("no-dir ")).getOrElse(fail(s"no no-dir line\n$out"))
    assert(noDir.contains("spark.checkpoint.dir"), noDir)

    val killed = lines.indexWhere(_.startsWith("killed "))
    assert(killed >= 0 && lines(killed).endsWith(" true"), s"no executor was killed\n$out\n$err")
    val id = lines(killed).split(" ")(1)
    val removed = lines.indexOf(s"removed $id")
    assert(removed > killed, s"the driver never removed executor $id\n$out\n$err")
    val cluster = lines.filter(_.startsWith("rank ")).map { l =>
      val Array(_, n, r) = l.split(" "); n.toLong -> r.toDouble
    }
    assert(lines.indexWhere(_.startsWith("rank ")) > removed, s"the result came before the loss\n$out")

    import spark.implicits._
    val local = graft.ops.Graph.pageRank(ExecutorLossSpec.edges.toDF("s", "d"), "s", "d",
      iterations = 6, checkpointInterval = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(cluster.map(_._1) == local.map(_._1).toSeq)
    cluster.zip(local).foreach { case ((n, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-12, s"node $n: local-cluster $a vs local[4] $b")
    }
  }
}

object ExecutorLossSpec {
  /** A 60-node graph: a ring, chords and a few dangling nodes. */
  val edges: Seq[(Long, Long)] =
    (0L until 50L).map(i => (i, (i + 1) % 50)) ++ (0L until 50L by 3).map(i => (i, (i * 7 + 11) % 60))
}
