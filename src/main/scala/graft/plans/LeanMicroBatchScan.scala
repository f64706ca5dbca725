package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, SparkDataStream}
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan, SparkStrategy, StreamSourceAwareSparkPlan}
import org.apache.spark.sql.execution.datasources.v2.{MicroBatchScanExec, StreamingDataSourceV2ScanRelation}
import org.apache.spark.sql.execution.metric.SQLMetric

/** Plans a micro-batch scan as Spark does, behind a leaf that never
  * serializes the scan. Spark 4.1's `MicroBatchScanExec` keeps its input
  * partitions (a `MemoryStream` batch's rows) in non-transient fields, and
  * the physical plan is shipped whole in every closure that captures a node
  * above it (codegen references, state operators) and in every task binary.
  * Only the map task's own partition needs the rows; it still carries them.
  *
  * Runs before `DataSourceV2Strategy` and matches the same pattern, since
  * that strategy plans the Project/Filter/scan group in one step. Columnar,
  * continuous and real-time scans are left to Spark.
  */
object LeanMicroBatchScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters, r: StreamingDataSourceV2ScanRelation)
        if r.startOffset.isDefined && r.endOffset.isDefined =>
      r.stream match {
        case stream: MicroBatchStream =>
          val scan = MicroBatchScanExec(r.output, r.scan, stream,
            r.startOffset.get, r.endOffset.get)
          if (scan.supportsColumnar) Nil
          else {
            // as DataSourceV2Strategy.withProjectAndFilter (private to
            // Spark): the Project makes the scan's rows unsafe rows
            val leaf = LeanMicroBatchScanExec(scan.output, scan)
            val filtered = filters.reduceLeftOption(And).fold[SparkPlan](leaf)(FilterExec(_, leaf))
            ProjectExec(project, filtered) :: Nil
          }
        case _ => Nil
      }
    case _ => Nil
  }
}

/** A leaf that executes `scan` but serializes only its output schema.
  * It reports the scan's stream and the scan's own metrics, so the
  * progress reporter's `numInputRows` reads the rows the scan produced. */
final case class LeanMicroBatchScanExec(
    output: Seq[Attribute],
    @transient scan: MicroBatchScanExec)
  extends LeafExecNode with StreamSourceAwareSparkPlan {

  override val metrics: Map[String, SQLMetric] = scan.metrics
  override def getStream: Option[SparkDataStream] = scan.getStream
  override protected def doExecute(): RDD[InternalRow] = scan.execute()
}
