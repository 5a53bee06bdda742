package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.VectorFunctions

/** The native vector functions are registered in one place: each
  * `SparkEntry.queries` builder makes sure its session has them, and no
  * builder registers them again. Re-registering on a session that already
  * holds them (every session built with GraftExtensions) replaces each
  * function and logs a WARN per function per query. */
class FunctionRegistrationSpec extends SparkSpec {

  private val names = Seq("graft_dot", "graft_l2", "graft_hsig",
    "graft_simhash", "graft_cos_argmax", "graft_first_band")

  test("building every v* and tx* query registers nothing on a session that has the functions") {
    val s = spark.newSession()
    VectorFunctions.ensure(s)
    val registry = s.sessionState.functionRegistry
    // sentinels: same expressions, new builder objects — a builder that
    // re-registers the functions replaces them
    val sentinels = names.map { n =>
      val orig = registry.lookupFunctionBuilder(FunctionIdentifier(n)).get
      val sentinel: Seq[Expression] => Expression = orig(_)
      registry.createOrReplaceTempFunction(n, sentinel, "built-in")
      n -> sentinel
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => n.startsWith("v") || n.startsWith("tx") }
      .foreach { case (_, fn) => fn(s, sf) }
    val replaced = sentinels.collect {
      case (n, b) if !registry.lookupFunctionBuilder(FunctionIdentifier(n)).exists(_ eq b) => n
    }
    assert(replaced.isEmpty, s"query builders re-registered: $replaced")
  }

  test("a session without the functions gets them from the query builder") {
    val s = spark.newSession()
    assert(!s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")))
    assert(SparkEntry.queries("v03_ann_lsh")(s, sf).count() > 0)
    assert(SparkEntry.queries("tx08_simhash_pairs")(s, sf).count() > 0)
  }
}
