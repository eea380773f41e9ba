package graft

/** Maintenance tool: convergence-looped k-means rehearsal at amplified
  * scale (VERDICT r12 #6) — K=256 over ~1.5 M sign-decorrelated vectors is
  * the scale the semantic-dedup tier would run at SF10-equivalent corpora.
  *
  * Reuses [[AnnScale.staged]] (deterministic per-copy sign flips: every
  * copy is a distinct direction, so the clustering problem genuinely grows
  * with the factor instead of collapsing onto bit-identical twins). Prints
  * per round: wall seconds and the spherical inertia Σ(1−cosine) — the
  * rounds-to-fixpoint count and the inertia curve go to BASELINE.md.
  *
  * Run: `graft.KmeansScale [sfDir] [factor] [k] [maxIters]`.
  */
object KmeansScale {
  def main(args: Array[String]): Unit =
    ScaleData.withTempDir("graft_kmscale")(run(args, _))

  private def run(args: Array[String], out: String): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(750)
    val k = args.lift(2).map(_.toInt).getOrElse(256)
    val maxIters = args.lift(3).map(_.toInt).getOrElse(20)
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = AnnScale.staged(spark, sfDir, factor, out)
    println(s"[kmscale] corpus x$factor = ${emb.count()} vectors, k=$k")

    var last = System.nanoTime()
    var rounds = 0
    val t0 = last
    pipeline.Clustering.trainedCentroidsIter(emb, k, maxIters,
      onRound = (it, cents) => {
        val wall = (System.nanoTime() - last) / 1e9
        // inertia costs one extra corpus pass per round — acceptable for a
        // rehearsal, never part of the production loop
        val inert = pipeline.Clustering.inertia(emb, cents)
        println(f"[kmscale] round $it%2d  wall $wall%7.1f s  inertia $inert%.6f")
        last = System.nanoTime()
        rounds = it
      })
    println(f"[kmscale] fixpoint-or-cap after $rounds rounds, total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
