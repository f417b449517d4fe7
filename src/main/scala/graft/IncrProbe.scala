package graft

import org.apache.spark.sql.functions.col

/** Incremental-dedup scaling probe (round-15 verdict item 3, last
  * clause): demonstrate that [[graft.pipeline.Dedup.incrementalPairs]]
  * costs scale with the BATCH, not the corpus.
  *
  * Method: hold the batch fixed — the base copy's docs with doc_id ≡ 0
  * (mod 10); `BenchConf.stageFixtures`' copy shift (10⁹, ≡ 0 mod 10) keeps
  * copy-0 ids identifiable — while the indexed corpus grows through
  * `SPARK_GRAFT_INCR_COPIES` (default 10,20,40). Per corpus size: build
  * AND STAGE the MinHash index to parquet (untimed — that is ingest
  * work, paid once per corpus, exactly what the index exists to
  * amortize), then time ONLY the incremental batch step. The claim
  * holds when the timed seconds stay near-flat while the corpus grows
  * 4×.
  *
  * Output: one JSON line + `bench_evidence/r16_incr_probe.json`.
  */
object IncrProbe {

  def main(args: Array[String]): Unit = {
    val cpus = EngineSession.cores
    val copiesList = sys.env.getOrElse("SPARK_GRAFT_INCR_COPIES", "10,20,40")
      .split(",").map(_.trim.toInt).toSeq
    val out = sys.env.getOrElse("SPARK_GRAFT_INCR_OUT",
      "bench_evidence/r16_incr_probe.json")
    val spark = EngineSession.local(cpus)
    def secs(since: Long): Double = (System.nanoTime() - since) / 1e9

    val rows = copiesList.map { c =>
      val t0 = System.nanoTime()
      val dir = BenchConf.stageFixtures(spark, BenchConf.sfDir, cpus,
        copies = c, moneyDecimals = false)
      val docs = Tables.t(spark, dir, "documents")
      // fixed batch: the base copy's ≡0 (mod 10) ids — identical docs at
      // every corpus size; corpus: everything else, c× the base table
      val batch = docs.filter(col("doc_id") < 1000000000L &&
        col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") >= 1000000000L ||
        col("doc_id") % 10 =!= 0)
      val stageT = System.nanoTime()
      val idx = pipeline.Dedup.stageIndex(
        pipeline.Dedup.buildIndex(corpus), s"$dir/graft_incr_index")
      val indexSec = secs(stageT)
      val (nBatch, nCorpus) = (batch.count(), corpus.count())
      // timed region: ONLY the incremental step over the staged index
      val runT = System.nanoTime()
      val nPairs = pipeline.Dedup.incrementalPairs(idx, batch).count()
      val runSec = secs(runT)
      System.err.println(f"[incr-probe] copies=$c corpus=$nCorpus " +
        f"batch=$nBatch index=$indexSec%.1fs incremental=$runSec%.1fs " +
        f"pairs=$nPairs (staged in ${secs(t0)}%.0fs total)")
      scala.reflect.io.Path(dir).deleteRecursively()
      (c, nCorpus, nBatch, indexSec, runSec, nPairs)
    }
    val rec = scala.collection.immutable.ListMap(
      "probe" -> "incremental_dedup_batch_scaling",
      "runs" -> rows.map { case (c, nc, nb, is, rs, np) =>
        scala.collection.immutable.ListMap("copies" -> c, "corpus_docs" -> nc,
          "batch_docs" -> nb, "index_sec" -> math.rint(is * 10) / 10,
          "incremental_sec" -> math.rint(rs * 10) / 10, "pairs" -> np)
      })
    scala.util.Try(Json.writeFile(out, rec)).fold(
      e => System.err.println(s"[incr-probe] write failed (${e.getMessage})"),
      _ => System.err.println(s"[incr-probe] record -> $out"))
    println(Json.write(rec))
    spark.stop()
  }
}
