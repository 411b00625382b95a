package graft.plans

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** A hash repartition of one small task, done by re-reading its input
  * instead of shuffling it. Task i of `partitioning.numPartitions`
  * computes the whole child and keeps the rows whose
  * `partitioning.partitionIdExpression` is i: the rows, in the order,
  * that reducer i of Spark's exchange reads from a single map task.
  * The output keeps `partitioning`, so consumers co-partitioned with it
  * add no exchange. [[OneTaskExchangeRule]] places it only over a
  * deterministic child that [[OneTaskInput]] sizes at most the advisory
  * partition size once per output partition.
  */
case class OneTaskSplitExec(partitioning: HashPartitioning, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = partitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (partitionId, in) = (partitioning.partitionIdExpression, child.output)
    new OneTaskSplitRDD(child.execute(), partitioning.numPartitions,
      (i: Int, rows: Iterator[InternalRow]) => {
        val idOf = UnsafeProjection.create(partitionId :: Nil, in)
        rows.filter(idOf(_).getInt(0) == i)
      })
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OneTaskSplitExec =
    copy(child = newChild)
}

/** Partition `index` of a [[OneTaskSplitRDD]]: every partition of the
  * parent. They are captured on the driver, as `CoalescedRDD` does: a
  * parent's own partition list may not survive serialization (a file
  * scan's is transient).
  */
private class SplitPartition(override val index: Int, val parents: Array[Partition])
  extends Partition

/** `n` partitions, each reading every partition of `prev` in order and
  * passing them through `keep` with its own index.
  */
private class OneTaskSplitRDD(
    @transient private var prev: RDD[InternalRow],
    n: Int,
    keep: (Int, Iterator[InternalRow]) => Iterator[InternalRow])
  extends RDD[InternalRow](prev.context, Nil) {

  override protected def getPartitions: Array[Partition] = {
    val parents = prev.partitions
    Array.tabulate[Partition](n)(new SplitPartition(_, parents))
  }

  override protected def getDependencies: Seq[NarrowDependency[InternalRow]] =
    Seq(new NarrowDependency(prev) {
      override def getParents(id: Int): Seq[Int] =
        partitions(id).asInstanceOf[SplitPartition].parents.map(_.index).toSeq
    })

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[SplitPartition]
    keep(p.index, p.parents.iterator.flatMap(firstParent[InternalRow].iterator(_, context)))
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    prev = null
  }
}
