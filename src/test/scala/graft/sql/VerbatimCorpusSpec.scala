package graft.sql

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Scale resolution of the verbatim corpora: a testdata dir whose name a
  * staged fixture dir shares reads that dir, any other reads the default
  * scale, and `VerbatimBench` times only a staged scale. */
class VerbatimCorpusSpec extends AnyFunSuite {

  test("a testdata dir reads the staged scale of its name, else the default") {
    val root = Files.createTempDirectory("graft_corpus_")
    Seq("sf0.01", "sf1", "queries").foreach(d => Files.createDirectory(root.resolve(d)))
    val c = new VerbatimCorpus("probe", "probe_q", Seq("t"), filePrefix = "", scaled = true) {
      override def fixtureRoot: String = root.toString
    }
    assert(c.stagedScales === Seq("sf0.01", "sf1"))
    assert(c.scaleFor("/data/sf1") === "sf1")
    assert(c.fixtureDir("/data/sf1") === s"$root/sf1")
    assert(c.scaleFor("/data/sf0.001") === VerbatimCorpus.DefaultScale)
    assert(c.scaleFor("/data/queries") === VerbatimCorpus.DefaultScale)
    assert(graft.VerbatimBench.stagedScale(c, "sf1") === "sf1")
    val e = intercept[IllegalArgumentException](graft.VerbatimBench.stagedScale(c, "sf10"))
    assert(e.getMessage.contains("staged: sf0.01, sf1"), e.getMessage)
  }

  test("the committed TPC corpora stage sf0.01 and sf0.1; VerbatimBench refuses sf1") {
    Seq(TpchVerbatim, TpcdsVerbatim).foreach { c =>
      assert(c.stagedScales === Seq("sf0.01", "sf0.1"))
      assert(c.scaleFor("/data/sf1") === "sf0.01")
      val e = intercept[IllegalArgumentException](graft.VerbatimBench.stagedScale(c, "sf1"))
      assert(e.getMessage.contains("staged: sf0.01, sf0.1"), e.getMessage)
    }
    // JOB has one scale: the argument is not a fixture dir
    assert(graft.VerbatimBench.stagedScale(JobVerbatim, "sf1") === "sf1")
  }
}
