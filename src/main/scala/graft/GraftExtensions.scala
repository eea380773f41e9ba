package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Injects the Impala-dialect function pack into every session built through
  * [[Engine.builder]] (`withExtensions(new GraftExtensions)`).
  *
  * The reference registers its 275 builtin signatures in
  * `fe/src/main/java/com/cloudera/impala/catalog/BuiltinsDb.java` /
  * `common/function-registry/impala_functions.py`; here each name maps to a
  * Catalyst expression builder so the functions stay inside whole-stage
  * codegen (no UDF boundary).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.injections.foreach { case (name, builder) =>
      e.injectFunction(
        (new FunctionIdentifier(name),
         new ExpressionInfo("graft", name),
         builder))
    }
    // Custom whole-operator plans (SURVEY build-guidance path (c)).
    e.injectPlannerStrategy(_ => plans.TopKPerGroupStrategy)
    // Engine-level broadcast safety: a collection-typed corpus side must
    // never be broadcast on a width-blind size estimate (the round-17 SF30
    // OOM class) — see plans.CorpusBroadcastGuard.
    e.injectPreCBORule(_ => plans.CorpusBroadcastGuard)
    // Reference column DDL missing from Spark's v1 path (ALTER TABLE DROP
    // COLUMN / RENAME COLUMN as metadata-only ops) — see plans.AlterColumns.
    e.injectParser((_, delegate) => new plans.GraftSqlParser(delegate))
  }
}
