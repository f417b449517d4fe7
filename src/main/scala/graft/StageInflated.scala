package graft

/** Stage a key-shift-inflated copy of the fixture tables for an
  * at-scale oracle gate: `runMain graft.StageInflated <sfDir> <outDir>
  * <copies>` writes `<outDir>/<table>.parquet` with RAW fixture types
  * (no money-decimal cast — the oracle SQL targets the fixtures'
  * doubles), so `graft.Verify <outDir> …` + `scripts/check.py <outDir>
  * …` runs the ENTIRE correctness gate, DuckDB compare included, at
  * copies× the source scale. 10 × sf0.1 ≈ sf1: the largest scale this
  * sandbox holds (COVERAGE.md records the sweep).
  */
object StageInflated {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, copiesStr) = args
    val cpus = EngineSession.cores
    val spark = EngineSession.local(cpus)
    val dir = BenchConf.stageFixtures(spark, sfDir, cpus,
      copies = copiesStr.toInt, moneyDecimals = false, outDir = Some(outDir))
    println(s"STAGED $dir")
    spark.stop()
  }
}
