package graft.plans

import java.util.{Arrays, PriorityQueue}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, IntegerLiteral, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Plans a root `ORDER BY … LIMIT k` — the shapes Spark's
  * `SpecialLimits` turns into `TakeOrderedAndProjectExec`, a sort
  * directly under the limit or under one projection, with `k <
  * spark.sql.execution.topKSortFallbackThreshold` — as
  * [[TakeOrderedAndProjectCollectExec]]. Spark plans every query under
  * a `ReturnAnswer` (`QueryExecution.createSparkPlan`), and so every
  * subquery and every plan it caches: a scalar subquery's top-k (taken
  * with `executeTake(2)`) and a cached one run through `doExecute`. An
  * `IN` subquery is usually rewritten into a join first. Shapes with
  * an `OFFSET`, and top-k below another operator (a join side, a
  * write's input), stay with Spark. Installed by
  * [[graft.Graft.registerAll]] and `graft.GraftExtensions`; stateless,
  * one instance serves every session. */
object TopKCollectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(k), Sort(order, true, child, _))) if belowFallback(k) =>
      TakeOrderedAndProjectCollectExec(k, order, child.output, planLater(child)) :: Nil
    case ReturnAnswer(Limit(IntegerLiteral(k), Project(projectList, Sort(order, true, child, _))))
        if belowFallback(k) =>
      TakeOrderedAndProjectCollectExec(k, order, projectList, planLater(child)) :: Nil
    case _ => Nil
  }

  private def belowFallback(k: Int): Boolean = k < SQLConf.get.topKSortFallbackThreshold
}

/** `TakeOrderedAndProjectExec` for a collected root top-k, without
  * `RDD.takeOrdered`. Spark's collect path builds three closures
  * (`mapPartitions`, `reduce` and the job function), and
  * `SparkContext.clean` reads `RDD.class` and `SparkContext.class`
  * through ASM for each of them on every request. Here the per-partition
  * work is one named serializable class, [[TopKCollect.PartitionTopK]],
  * which closure cleaning passes over without reading any class file.
  *
  * `executeCollect` runs ONE job: each task keeps a bounded heap of its
  * partition's `limit` first rows (copying a row only when it enters the
  * heap), and the driver merges the per-partition runs, keeps the
  * first `limit` and projects them — the per-partition top-k and
  * global merge that distributed top-k engines use. Rows tied on `sortOrder`
  * resolve to the earlier partition, then the earlier row, so the
  * result is the first `limit` rows of a stable sort of the child's
  * rows in partition order. (`TakeOrderedAndProjectExec` merges
  * partitions in task-completion order, so its choice among rows tied
  * at the limit is not fixed.)
  *
  * `doExecute`, which non-collect consumers use (`toLocalIterator`,
  * `executeTake`, a cached top-k), delegates to
  * `TakeOrderedAndProjectExec` over the same fields; the shuffle
  * metrics of that path stay on the delegate. */
case class TakeOrderedAndProjectCollectExec(
    limit: Int,
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    child: SparkPlan) extends SparkPlan with UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override def outputOrdering: Seq[SortOrder] = sortOrder

  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val rdd = child.execute()
    val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
    val rows = if (limit == 0 || rdd.getNumPartitions == 0) Array.empty[InternalRow] else {
      val runs = sparkContext.runJob(rdd, new TopKCollect.PartitionTopK(limit, ord))
      val all = runs.flatten
      Arrays.sort(all, ord) // stable: ties keep partition, then row, order
      all.take(limit)
    }
    if (projectList == child.output) rows
    else {
      val proj = UnsafeProjection.create(projectList, child.output)
      proj.initialize(0)
      rows.map(r => proj(r).copy())
    }
  }

  protected override def doExecute(): RDD[InternalRow] =
    TakeOrderedAndProjectExec(limit, sortOrder, projectList, child).execute()

  override def simpleString(maxFields: Int): String = {
    val orderBy = truncatedString(sortOrder, "[", ",", "]", maxFields)
    val out = truncatedString(output, "[", ",", "]", maxFields)
    s"$nodeName(limit=$limit, orderBy=$orderBy, output=$out)"
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TakeOrderedAndProjectCollectExec =
    copy(child = newChild)
}

object TopKCollect {

  /** One partition's first `limit` rows under `ord`, ascending, ties in
    * arrival order. A max-heap of (row, arrival) holds the current
    * candidates; a row enters (as a copy) only when the heap is not full
    * or it sorts strictly before the heap's last row. */
  final class PartitionTopK(limit: Int, ord: Ordering[InternalRow])
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {

    override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
      val heap = new PriorityQueue[Candidate](math.min(limit, 1024), (a: Candidate, b: Candidate) => {
        val c = ord.compare(b.row, a.row)
        if (c != 0) c else java.lang.Long.compare(b.seq, a.seq)
      })
      var seq = 0L
      while (rows.hasNext) {
        val row = rows.next()
        if (heap.size < limit) heap.add(Candidate(row.copy(), seq))
        else if (ord.compare(row, heap.peek.row) < 0) {
          heap.poll()
          heap.add(Candidate(row.copy(), seq))
        }
        seq += 1
      }
      val out = new Array[InternalRow](heap.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = heap.poll().row; i -= 1 }
      out
    }
  }

  private final case class Candidate(row: InternalRow, seq: Long)
}
