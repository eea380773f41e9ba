package graft

import org.apache.spark.sql.execution.FormattedMode

/** `graft.Bench plan` output compares across builds with a plain `diff`:
  * two constructions of one query in one session differ only in
  * session-global counters (expression, plan and RDD ids, lambda-variable
  * suffixes) and identity hashes, which [[Bench.stablePlan]] removes. */
class BenchSpec extends SparkSpec {

  test("plan text is run-stable: two builds of a query print the same plan") {
    for (q <- Seq("q_dedup_simhash", "q_text_chunk", "q_dedup_embedding")) {
      def plan(): String = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      val (a, b) = (plan(), plan())
      assert(a != b, s"$q: the raw plans are already equal")
      assert(Bench.stablePlan(a) == Bench.stablePlan(b),
        s"$q:\n${Bench.stablePlan(a)}\n---\n${Bench.stablePlan(b)}")
    }
  }
}
