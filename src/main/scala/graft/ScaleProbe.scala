package graft

/** Dev scaling scratch (companion to [[Prof]]): time semantic dedup
  * in its two reachable configurations, so the k-vs-N scaling
  * contract is measurable instead of argued —
  *
  *   SPARK_GRAFT_SF_DIR=data/sf10 runMain graft.ScaleProbe         # production (cell size 128)
  *   SPARK_GRAFT_SF_DIR=data/sf10 runMain graft.ScaleProbe 64      # production, cell size 64
  *   SPARK_GRAFT_SF_DIR=data/sf10 runMain graft.ScaleProbe pinned  # oracle pin (fixed 16 cells)
  *
  * The `pinned` mode is the DELIBERATELY non-scaling oracle variant
  * (fixed cell count → quadratic within-cell square; its sf10 probe
  * measured 19× at 100× rows, see PLANS.md) — kept probe-able so the
  * contrast with the k ∝ N path stays a measurement, not folklore.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables(spark, sfDir, "embeddings")
    val n = emb.count()
    val pinned = args.headOption.contains("pinned")
    val cellSize = args.headOption.flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(128)
    val t0 = System.nanoTime()
    (if (pinned)
      graft.operators.Similarity.semanticDedupPinned(emb, tau = 0.35)
    else
      graft.operators.Similarity.semanticDedup(emb, tau = 0.35,
        targetCellSize = cellSize))
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    CacheRegistry.releaseAll()
    val mode = if (pinned) "pinned16" else s"cellsize=$cellSize"
    println(f"SCALEPROBE sf=$sfDir n=$n $mode $sec%.3f s")
    spark.stop()
  }
}
