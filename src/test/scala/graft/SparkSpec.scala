package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.util.Sessions.pipeline(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the pipeline session has no GraftExtensions; specs that call the
    // VectorOps/TextOps helpers directly need the native functions too
    graft.functions.VectorFunctions.ensure(s)
    s
  }
}
