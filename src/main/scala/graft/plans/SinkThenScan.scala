package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, StructType}

/** Deferred sink-then-scan: a whole write→re-read round-trip expressed
  * as ONE lazy DataFrame. Spark's `DataFrameWriter` is eager — a
  * round-trip query built the obvious way (`df.write.orc(dir);
  * spark.read.orc(dir)`) performs the full sink write at PLAN-BUILD
  * time, billing whichever phase builds the plan (a lint pass, a
  * plan-only explain, a benchmark's untimed setup section) for a job
  * the query owns. This operator defers the side effect to first
  * action — building the plan writes nothing; executing it runs the
  * write and then streams the re-read scan's rows through — so the
  * cost lands inside the query's own measurement, exactly once per
  * execution.
  *
  * Mechanics: a leaf logical node (output attributes from the
  * statically-known re-read schema) planned by [[SinkThenScanStrategy]]
  * into [[SinkThenScanExec]], whose doExecute runs the write on the
  * driver and returns the freshly-planned scan's row RDD. The scan is
  * planned AFTER the write, so its file index sees the files the write
  * just produced (a file-source plan built earlier would have
  * snapshotted an empty or stale listing — the reason the write cannot
  * simply be "made lazy" around an ordinary read plan). Same
  * command-runs-at-action contract as Spark's own lazily-executed DDL
  * (e.g. CTAS under `Dataset.queryExecution`).
  *
  * The deferred scan is a full nested query: filters/pruning still
  * push into the inner file scan (PlanSpec pins PushedFilters on the
  * inner plan for q_orc_roundtrip); the outer plan is a pass-through
  * leaf. The strategy reaches every session through
  * [[graft.GraftExtensionsProvider]], like [[AsOfJoinStrategy]].
  */
object SinkThenScan {

  /** Build the deferred round-trip frame. `schema` must match the
    * frame `scan` produces (checked at execution, structurally,
    * ignoring nullability).
    */
  def roundTrip(spark: SparkSession, schema: StructType,
      write: SparkSession => Unit, scan: SparkSession => DataFrame): DataFrame = {
    val out = schema.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)())
    org.apache.spark.sql.GraftShim.ofRows(spark,
      SinkThenScanPlan(out, write, scan))
  }
}

case class SinkThenScanPlan(
    output: Seq[Attribute],
    write: SparkSession => Unit,
    scan: SparkSession => DataFrame) extends LeafNode {
  // root-only node: the stats are never join-selection inputs, but the
  // visitor still asks — report "big" so nothing ever tries to
  // broadcast a subtree containing a side effect
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) / 4)
}

object SinkThenScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SinkThenScanPlan(out, write, scan) =>
      SinkThenScanExec(out, write, scan) :: Nil
    case _ => Nil
  }
}

case class SinkThenScanExec(
    output: Seq[Attribute],
    write: SparkSession => Unit,
    scan: SparkSession => DataFrame) extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    // driver-side composition, like AQE's nested stage execution: the
    // write is a complete Spark job; the scan plans afterwards so its
    // file listing includes the written files
    write(session)
    val inner = scan(session)
    val innerSchema = StructType(inner.schema.fields)
    require(DataType.equalsStructurally(innerSchema,
      StructType(output.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.dataType))),
      ignoreNullability = true),
      s"SinkThenScan: declared schema ${output.map(_.dataType)} does not " +
        s"match scan schema ${inner.schema.map(_.dataType)}")
    inner.queryExecution.toRdd
  }
}
