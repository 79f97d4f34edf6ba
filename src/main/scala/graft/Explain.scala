package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit tool: runs named queries (all of them when none are
  * named) at SPARK_GRAFT_SF_DIR through the noop sink, as Bench times
  * them, and prints the formatted physical plan of each executed
  * write — the final adaptive plan (`isFinalPlan=true`), not the
  * pre-execution one. The session is Verify's: SparkConfDefaults,
  * SPARK_GRAFT_CPUS cores and shuffle partitions, UTC. Used to check
  * the shapes that matter at 100 TB — broadcasts on the dim/probe
  * sides, PushedFilters/ReadSchema on scans, no duplicated subplans, no
  * cartesian products, WholeStageCodegen spans over the hot
  * projections.
  *
  *   sbt "runMain graft.Explain d2_jaccard_pairs v4_ivf_topk"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkConfDefaults.withDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the write's QueryExecution reaches listeners asynchronously;
    // eager jobs during query construction report their own, so keep
    // only executions that wrote
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[V2TableWriteExec]))
          writes.put(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(q) =>
          writes.clear()
          q(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(s"===== $name =====")
          Option(writes.poll(60, TimeUnit.SECONDS)) match {
            case Some(qe) => println(qe.explainString(FormattedMode))
            case None =>
              System.err.println(s"[explain] $name: no executed plan")
          }
        case None => System.err.println(s"[explain] unknown query: $name")
      }
    }
    spark.stop()
  }
}
