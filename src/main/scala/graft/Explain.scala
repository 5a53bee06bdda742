package graft

import graft.util.Sessions

/** Plan-evidence main: print the EXECUTED physical plan of named registered
  * queries against SPARK_GRAFT_SF_DIR — the tool behind the scale-regime
  * plan audits (e.g. the broadcast-threshold fallback rung: at 128× the
  * 32 MB customer / 25 MB part dims exceed the 10 MB auto-broadcast
  * threshold, and the recorded plans must show the SMJ/AQE switch, not a
  * BroadcastNestedLoopJoin). Bench proves the rung's COST; this records the
  * rung's SHAPE next to it.
  *
  * Args: query names. Each query is materialized with a `noop` write first
  * so AQE settles on its final (adaptive) plan before it is printed.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the query session Bench runs, so the recorded plan SHAPE is the
    // shape the measured run executed
    Sessions.run(Sessions.query(sfDir, Sessions.cpus(32))) { spark =>
      args.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(s"=== $name @ $sfDir ===")
        // final adaptive plan only — the Initial Plan section pre-dates the
        // runtime statistics this tool exists to observe
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      }
    }
  }
}
