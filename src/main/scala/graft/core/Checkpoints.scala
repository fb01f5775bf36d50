package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of local checkpoints. `localCheckpoint` persists the
  * checkpointed RDD directly, not through the CacheManager, so
  * `df.unpersist()` on the returned frame leaves its blocks in place
  * until the RDD is garbage-collected; only unpersisting the RDD itself
  * frees them.
  *
  * Ownership rule: library code makes a local checkpoint only through
  * [[local]], which registers it with the innermost [[scoped]] call on
  * the current thread. When that scope exits, normally or by an
  * exception, it frees every checkpoint registered with it that its
  * result does not read, and hands the rest to the enclosing scope. The
  * outermost scope leaves what its result reads to the caller, who may
  * free it with [[release]] once nothing reads the result again. A
  * result may not read a lazy checkpoint its own scope made and has not
  * materialized: [[scoped]] frees the scope and throws instead.
  *
  * Two kinds of checkpoint keep explicit handling: round loops free a
  * superseded state with [[release]] to bound peak memory inside one
  * call, and [[retained]] checkpoints (cache values that outlive the
  * call) belong to no scope. A `return` inside a scoped body counts as
  * an exception: write the body without one. */
object Checkpoints {

  /** The checkpoints made inside one [[scoped]] call. Pool tasks that
    * run in the scope ([[carry]]) register concurrently. */
  private final class Scope {
    private var held = List.empty[RDD[_]]
    private var madeLazy = List.empty[RDD[_]]
    def add(rdds: Seq[RDD[_]], eager: Boolean = true): Unit = synchronized {
      held = rdds ++: held
      if (!eager) madeLazy = rdds ++: madeLazy
    }
    def drain(): List[RDD[_]] = synchronized {
      val out = held
      held = Nil
      madeLazy = Nil
      out
    }
    /** The lazy checkpoints made here that are still unmaterialized. */
    def unmaterialized(): List[RDD[_]] = synchronized(madeLazy.filterNot(_.isCheckpointed))
  }

  // not inherited: a pooled thread would keep the scope of whichever
  // caller first started it
  private val current = new ThreadLocal[Scope]

  /** Run `body` in a new scope; see the ownership rule above. */
  def scoped[A](body: => A): A = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    val out =
      try body
      catch { case e: Throwable => free(scope.drain()); throw e }
      finally current.set(outer)
    val read = reads(out)
    scope.unmaterialized().find(r => read(r.id)).foreach { r =>
      free(scope.drain())
      throw new IllegalStateException(s"Checkpoints.scoped result reads the lazy local " +
        s"checkpoint $r before it is materialized; materialize it inside the scope " +
        "that makes it, or its upstream checkpoints outlive every release")
    }
    val (keep, drop) = scope.drain().partition(r => read(r.id))
    free(drop)
    if (outer != null) outer.add(keep)
    out
  }

  /** `df` local-checkpointed (materialized now when `eager`) and
    * registered with the enclosing scope. Throws
    * `IllegalStateException` outside [[scoped]], where nothing would
    * free it. A lazy checkpoint must be materialized inside that scope
    * if the scope's result reads it: until then its lineage reads the
    * upstream checkpoints, and once it is materialized outside, nothing
    * reaches them to free them. [[scoped]] throws `IllegalStateException`
    * naming the checkpoint, after freeing the scope, when it is not. */
  def local(df: DataFrame, eager: Boolean = true): DataFrame = {
    val scope = current.get
    if (scope == null)
      throw new IllegalStateException("Checkpoints.local called outside Checkpoints.scoped")
    val cp = df.localCheckpoint(eager)
    scope.add(direct(cp), eager)
    cp
  }

  /** `df` local-checkpointed eagerly and owned by no scope: the caller
    * frees it with [[release]]. For values cached across calls. */
  def retained(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `f` as a function that runs, on any thread, in the scope current
    * where `carry` is called: a pool task's checkpoints then belong to
    * the call that started the pool. */
  def carry[A, B](f: A => B): A => B = {
    val scope = current.get
    a => {
      val prev = current.get
      current.set(scope)
      try f(a) finally current.set(prev)
    }
  }

  /** Unpersist (non-blocking) every checkpoint `df` reads: the RDD of
    * each `LogicalRDD` in its plan and every checkpointed RDD in their
    * lineage. Call it only on a frame nothing will read again: a local
    * checkpoint has no lineage to recompute its blocks from. */
  def release(df: DataFrame): Unit = {
    val roots = direct(df)
    val read = lineage(roots)
    free(roots ++ read.values.filter(_.isCheckpointed))
  }

  // a round loop may already have freed a registered state
  private def free(rdds: Seq[RDD[_]]): Unit =
    rdds.distinct.filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))

  /** The RDD of every `LogicalRDD` in the analyzed plans of the frames in
    * `x`, subquery expressions included. Looks into `Iterable` and
    * `Product` values; anything else holds no frame. */
  private def direct(x: Any): Seq[RDD[_]] = x match {
    case ds: Dataset[_] =>
      ds.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }
    case it: Iterable[_] => it.iterator.flatMap(direct).toSeq
    case p: Product => p.productIterator.flatMap(direct).toSeq
    case _ => Nil
  }

  /** `roots` and every RDD upstream of them, by id. */
  private def lineage(roots: Seq[RDD[_]]): Map[Int, RDD[_]] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (!seen.contains(r.id)) {
        seen(r.id) = r
        todo = r.dependencies.map(_.rdd).toList ++ todo
      }
    }
    seen.toMap
  }

  /** Ids of the RDDs `x` reads: [[direct]] and their lineage. */
  private def reads(x: Any): Set[Int] = lineage(direct(x)).keySet
}
