package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The one owner of operator storage. Every persist ([[hold]]), lineage
  * cut ([[cut]]) and release in graft goes through here; PlanLintSpec
  * fails on a persist, cache, checkpoint or unpersist call anywhere else
  * in `src/main`.
  *
  * Cut policy. A cut materializes a frame and truncates its lineage, so
  * later plans over it stay small. Where its copy lives is read from the
  * SparkContext alone:
  *  - a local master (`local`, `local[n]`, `local[n,m]`) takes a local
  *    checkpoint: its blocks sit in the driver JVM's own block manager,
  *    which cannot be lost without the application;
  *  - any other master with a checkpoint directory (`spark.checkpoint.dir`
  *    or `SparkContext.setCheckpointDir`) takes a reliable checkpoint,
  *    written to that directory, so a lost executor loses no cut data;
  *  - any other master without one fails at the cut, naming
  *    `spark.checkpoint.dir`. A local checkpoint there would keep the only
  *    copy of the data in one executor, and losing that executor fails a
  *    later job with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
  *
  * Scope rule. [[scoped]] runs a block in a new scope, on the calling
  * thread. Every hold and cut taken inside it is released when the block
  * exits, newest first, also when it throws. When the block returns a
  * frame, the cuts that frame reads pass to the enclosing scope instead: a
  * cut is the only copy of its data. So "hold the inputs, cut a narrow
  * result, release the inputs" is `scoped { cut(f(hold(x))) }`. Outside
  * any scope a hold or cut lives as long as the session.
  * [[Pipeline.execute]] runs each pipeline in one scope.
  */
object Checkpoints {

  /** One piece of storage taken in a scope; `rdd` is the cut RDD's id
    * (-1 for a hold). */
  private final case class Taken(rdd: Int, release: () => Unit)

  private type Scope = ArrayBuffer[Taken]

  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Newest first; a failed release does not stop the rest. */
  private def release(taken: collection.Seq[Taken]): Unit =
    taken.reverseIterator.foreach(t => try t.release() catch { case NonFatal(_) => () })

  /** Hand `taken` to the current scope; outside any, it lives for the session. */
  private def adopt(taken: collection.Seq[Taken]): Unit = scopes.get.headOption.foreach(_ ++= taken)

  private def within[T](s: Scope)(body: => T): T = {
    scopes.set(s :: scopes.get)
    try body finally scopes.set(scopes.get.tail)
  }

  /** Persist `df` at `level`, released when the current scope ends. */
  def hold(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val held = df.persist(level)
    adopt(Seq(Taken(-1, () => held.unpersist(blocking = false))))
    held
  }

  /** Cut `df`'s lineage under the cut policy above. An eager cut
    * materializes now; a lazy one on the first action that reads it. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val out =
      if (sc.isLocal) df.localCheckpoint(eager)
      else if (sc.getCheckpointDir.isDefined) df.checkpoint(eager)
      else throw new IllegalStateException(
        s"cannot cut lineage on master '${sc.master}' without a checkpoint directory: " +
          "set spark.checkpoint.dir to a directory every executor can reach")
    val rdd = cutRdds(out).head
    adopt(Seq(Taken(rdd.id, () => {
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    })))
    out
  }

  /** Run `body` in a new scope: see the scope rule above. */
  def scoped[T](body: => T): T = {
    val s = new Scope
    val out = try within(s)(body) catch { case t: Throwable => release(s); throw t }
    val kept = out match {
      case df: Dataset[_] => cutRdds(df).map(_.id).toSet
      case _ => Set.empty[Int]
    }
    val (pass, drop) = s.partition(t => kept(t.rdd))
    release(drop)
    adopt(pass)
    out
  }

  /** An iterative op's state: from `init`, each round cuts `step` of the
    * current generation, and `done` reads the new generation to decide
    * whether it is the last. A generation, with whatever its round took,
    * is released once its successor has been cut and read by `done`; the
    * last passes to the current scope. A lazy cut (`eager = false`) is
    * materialized by the first action in `done`. */
  def iterate(init: DataFrame, eager: Boolean = true)(step: DataFrame => DataFrame)(
      done: DataFrame => Boolean): DataFrame = {
    var gen = init
    var held = new Scope // init's storage is the caller's
    var last = false
    while (!last) {
      val s = new Scope
      val next =
        try within(s) { val n = cut(step(gen), eager); last = done(n); n }
        catch { case t: Throwable => release(s); release(held); throw t }
      release(held)
      held = s
      gen = next
    }
    adopt(held)
    gen
  }

  /** The cut RDDs a frame reads: its plan's LogicalRDD leaves. */
  private def cutRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
}
