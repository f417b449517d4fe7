package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One-JVM tuning sweep over bench-relevant staging/session configs.
  * Prints one line per configuration (same per-query methodology as
  * Bench) so layout and session tuning decisions are measured, not
  * guessed.
  */
object BenchTune {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession.local(EngineSession.cores)

    // the headline minus its two slowest entries, so a sweep stays short
    val headline = Bench.Headline.filterNot(Set("job_deep_join", "dedup_minhash"))
    val fns = headline.map(n => n -> SparkEntry.queries(n))

    /** Stage fixtures: `parts` files per big table, codec, optional
      * range-sort column per table (zone-map-friendly layout). */
    def stage(parts: Int, codec: String, sortCols: Map[String, String]): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_stage").toString
      spark.conf.set("spark.sql.parquet.compression.codec", codec)
      Tables.names.foreach { n =>
        val df = Tables.t(spark, BenchConf.sfDir, n)
        val p = if (Tables.broadcastable(n)) 1 else parts
        val out = sortCols.get(n) match {
          case Some(c) => df.repartitionByRange(p, col(c))
          case None => df.repartition(p)
        }
        out.write.mode("overwrite").parquet(s"$dir/$n.parquet")
      }
      dir
    }

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[tune] ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }

    val dateSort = Map("lineitem" -> "l_shipdate", "orders" -> "o_orderdate")
    val configs: Seq[(String, Int, String, Map[String, String], Boolean, Int, Int)] = Seq(
      // label, parts, codec, sort, aqe, shuffle, broadcastMb
      ("A-snappy", 8, "snappy", Map.empty, false, 8, 64),
      ("B-uncomp", 8, "uncompressed", Map.empty, false, 8, 64),
      ("C-uncomp-aqe", 8, "uncompressed", Map.empty, true, 8, 64),
      ("D-uncomp-sorted", 8, "uncompressed", dateSort, false, 8, 64),
      ("E-6parts", 6, "uncompressed", dateSort, false, 6, 64),
      ("F-12parts", 12, "uncompressed", dateSort, false, 12, 64))

    for ((label, parts, codec, sortCols, aqe, shuf, bc) <- configs) {
      val dir = stage(parts, codec, sortCols)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.conf.set("spark.sql.shuffle.partitions", shuf.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (bc * 1024 * 1024).toString)
      BenchConf.staged(spark)
      fns.foreach { case (_, fn) => once(fn, dir) } // warm
      val results = fns.map { case (name, fn) =>
        name -> (1 to 3).map(_ => once(fn, dir)).min
      }
      val total = results.map(_._2).sum
      val qs = results.map { case (k, v) => k + "=" + f"$v%.3f" }.mkString(",")
      println(f"TUNE $label aqe=$aqe shuffle=$shuf bc=${bc}m total=$total%.3f | $qs")
    }
    spark.stop()
  }
}
