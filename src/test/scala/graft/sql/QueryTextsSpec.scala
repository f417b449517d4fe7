package graft.sql

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The committed TPC-H and TPC-DS query texts (`fixtures/tpch/queries`,
  * `fixtures/tpcds/queries`, written by `scripts/stage_tpc{h,ds}.py` from
  * DuckDB's `tpch_queries()`/`tpcds_queries()`) are the verbatim suites'
  * inputs: each must match its `SHA256SUMS`, and where a reference
  * checkout sits beside the repository (`../reference`) each must equal
  * the reference's own file as the suites load it. */
class QueryTextsSpec extends AnyFunSuite {

  private def sha256(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map(b => f"$b%02x").mkString

  /** `name -> digest` from a sha256sum-format file. */
  private def sums(p: Path): Map[String, String] =
    Files.readAllLines(p).toArray(Array.empty[String]).toSeq.map { line =>
      val Array(digest, name) = line.split("\\s+")
      name -> digest
    }.toMap

  private def checkSums(dir: String, names: Seq[String]): Unit = {
    val listed = sums(Paths.get(dir, "SHA256SUMS"))
    assert(listed.keySet === names.toSet)
    names.foreach(n =>
      assert(sha256(Paths.get(dir, n)) === listed(n), s"$dir/$n"))
  }

  /** A query text as the verbatim suites load it. */
  private def text(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8").trim.stripSuffix(";")

  private val tpchDir = s"${TpchVerbatim.fixtureRoot}/queries"
  private val tpcdsDir = s"${TpcdsVerbatim.fixtureRoot}/queries"
  private val tpchNames = (1 to 22).map(n => f"q$n%02d.sql")
  private val tpcdsNames = (1 to 99).map(n => f"$n%02d.sql")

  test("TPC-H texts match their SHA256SUMS, which equal perfbench's copy") {
    checkSums(tpchDir, tpchNames)
    assert(sums(Paths.get(tpchDir, "SHA256SUMS")) ===
      sums(Paths.get("perfbench", "tpch", "SHA256SUMS")))
  }

  test("TPC-DS texts match their SHA256SUMS; 32 of the 99 start with WITH") {
    checkSums(tpcdsDir, tpcdsNames)
    assert(tpcdsNames.count(n =>
      text(Paths.get(tpcdsDir, n)).take(4).equalsIgnoreCase("with")) === 32)
  }

  private def sameAsReference(dir: String, refDir: Path, names: Seq[String]): Unit = {
    assume(Files.isDirectory(refDir), s"no reference checkout at $refDir")
    names.foreach(n =>
      assert(text(Paths.get(dir, n)) === text(refDir.resolve(n)),
        s"$n differs from $refDir/$n"))
  }

  private val reference = Paths.get("..", "reference", "extension")

  test("TPC-H texts equal the reference checkout's dbgen/queries") {
    sameAsReference(tpchDir, reference.resolve("tpch/dbgen/queries"), tpchNames)
  }

  test("TPC-DS texts equal the reference checkout's dsdgen/queries") {
    sameAsReference(tpcdsDir, reference.resolve("tpcds/dsdgen/queries"), tpcdsNames)
  }
}
