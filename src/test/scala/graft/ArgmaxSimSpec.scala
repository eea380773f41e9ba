package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pins for the round-21 argmax-cosine kernel
  * ([[graft.functions.ArgmaxSim]]): value-identical to the
  * `array_max(transform(cents, c => struct(sim, -id, id)))` composite it
  * replaces in the IVF and k-means assignment paths, across the ordering
  * edges the oracle corpus may not exercise — NaN sims (zero-norm vector),
  * Infinity sims (zero-norm centroid), exact ties (duplicate centroids),
  * null embeddings, empty centroid sets. */
class ArgmaxSimSpec extends SparkSpec {

  private def dotF(a: Column, b: Column) = graft.functions.VectorOps.dot(a, b)
  private def dotD(a: Column, b: Column) = graft.functions.VectorOps.dotDouble(a, b)

  /** The replaced composite, verbatim shape (cnorm precomputed in the
    * struct, like the call sites build it). */
  private def oldArgmax(emb: Column, cents: Column, dbl: Boolean,
                        rnd: Boolean): Column = {
    def dot(a: Column, b: Column) = if (dbl) dotD(a, b) else dotF(a, b)
    val simRaw = (c: Column) =>
      dot(emb, c.getField("centroid")) /
        (sqrt(dot(emb, emb)) * c.getField("cnorm"))
    array_max(transform(cents, c =>
      struct(
        (if (rnd) round(simRaw(c), 6) else simRaw(c)).as("sim"),
        (-c.getField("id")).as("tie"),
        c.getField("id").as("id"))))
  }

  /** (emb, cents) rows for element type `t` ("float"/"double"): normal
    * vectors, a zero vector (NaN sims), ties via duplicated centroids, a
    * zero centroid (±Infinity sims), a null embedding, an empty centroid
    * set. */
  private def fixture(t: String): DataFrame = {
    val centRows = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0)),  // duplicate of 0 -> exact ties
      (3L, Seq(0.0, 0.0, 0.0))   // zero-norm centroid -> Inf/NaN sims
    )
    val embRows = Seq(
      Some(Seq(0.5, 0.5, 0.0)),
      Some(Seq(1.0, 0.0, 0.0)),   // ties cells 0 and 2 exactly
      Some(Seq(0.0, 0.0, 0.0)),   // zero vector -> all sims NaN
      None                        // null embedding -> all sims null
    )
    import spark.implicits._
    val cents = centRows.toDF("id", "c")
      .select(col("id"), col("c").cast(s"array<$t>").as("centroid"))
      .select(col("id"), col("centroid"),
        sqrt(if (t == "double") dotD(col("centroid"), col("centroid"))
             else dotF(col("centroid"), col("centroid"))).as("cnorm"))
      .agg(collect_list(struct(col("id"), col("centroid"), col("cnorm")))
        .as("cents"))
    embRows.toDF("e")
      .select(col("e").cast(s"array<$t>").as("emb"))
      .crossJoin(broadcast(cents))
  }

  test("ArgmaxSim matches array_max(transform(...)) — float, unrounded") {
    val df = fixture("float")
    val got = df.select(
      graft.functions.ArgmaxSim(col("emb"), col("cents"),
        doubleElems = false, roundTo6 = false).as("nw"),
      oldArgmax(col("emb"), col("cents"), dbl = false, rnd = false)
        .getField("sim").as("old_sim"),
      oldArgmax(col("emb"), col("cents"), dbl = false, rnd = false)
        .getField("id").as("old_id")).collect()
    got.foreach { r =>
      val nw = r.getStruct(0)
      assert(nw.get(0) == r.get(1), s"sim ${nw.get(0)} != ${r.get(1)}")
      assert(nw.get(1) == r.get(2), s"id ${nw.get(1)} != ${r.get(2)}")
    }
  }

  test("ArgmaxSim matches array_max(transform(...)) — double, round6") {
    val df = fixture("double")
    val got = df.select(
      graft.functions.ArgmaxSim(col("emb"), col("cents"),
        doubleElems = true, roundTo6 = true).as("nw"),
      oldArgmax(col("emb"), col("cents"), dbl = true, rnd = true)
        .getField("sim").as("old_sim"),
      oldArgmax(col("emb"), col("cents"), dbl = true, rnd = true)
        .getField("id").as("old_id")).collect()
    got.foreach { r =>
      val nw = r.getStruct(0)
      assert(nw.get(0) == r.get(1), s"sim ${nw.get(0)} != ${r.get(1)}")
      assert(nw.get(1) == r.get(2), s"id ${nw.get(1)} != ${r.get(2)}")
    }
  }

  test("ArgmaxSim over an empty or null centroid array is null") {
    import spark.implicits._
    val empty = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("emb")
      .withColumn("cents",
        expr("CAST(array() AS array<struct<id: bigint, " +
          "centroid: array<float>, cnorm: double>>)"))
    val r1 = empty.select(
      graft.functions.ArgmaxSim(col("emb"), col("cents"),
        doubleElems = false, roundTo6 = false))
      .collect()
    assert(r1.head.isNullAt(0))
    val nul = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("emb")
      .withColumn("cents",
        expr("CAST(NULL AS array<struct<id: bigint, " +
          "centroid: array<float>, cnorm: double>>)"))
    val r2 = nul.select(
      graft.functions.ArgmaxSim(col("emb"), col("cents"),
        doubleElems = false, roundTo6 = false))
      .collect()
    assert(r2.head.isNullAt(0))
  }
}
