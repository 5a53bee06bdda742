package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** The scan census of the pipeline specs: which plan nodes the queries of
  * a pipeline run executed. */
object ScanCensus {

  /** Every node of an executed plan, walked like the benchmark's scan
    * census: through adaptive plans, query stages, command results,
    * subqueries and the plans behind cached frames. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes)
  })

  /** The CSV scans in an executed plan. */
  def csvScans(plan: SparkPlan): Seq[FileSourceScanExec] = nodes(plan).collect {
    case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
  }

  /** Records the queries run on `session`, and on the sessions cloned from
    * it afterwards, such as the one a streaming query runs its batches on. */
  final class Recorder(session: SparkSession) {
    private val seen = new ConcurrentLinkedQueue[QueryExecution]()
    session.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    })

    /** The queries `body` ran. Listener events arrive asynchronously and in
      * order: once a marker query run after `body` has been delivered,
      * every query of `body` has been too. */
    def queries(body: => Unit): Seq[QueryExecution] = {
      seen.clear()
      body
      val marker = session.range(1)
      marker.collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_ eq marker.queryExecution)) {
        assert(System.nanoTime() < deadline, "the marker query was never delivered")
        Thread.sleep(10)
      }
      seen.asScala.toSeq.filterNot(_ eq marker.queryExecution)
    }
  }
}
