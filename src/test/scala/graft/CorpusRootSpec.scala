package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Where the synthetic corpora live, without Spark: one root, inside the
  * checkout the classes were built from, read by both the engine queries and
  * the oracle SQL. */
class CorpusRootSpec extends AnyFunSuite {

  /** The checkout this test runs from: the nearest ancestor of the test
    * classes that holds the build definition. */
  private def checkout: Path = {
    val here = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(here)(_.getParent).takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt"))).get
  }

  test("the corpus root lies under the running checkout") {
    assert(Files.exists(checkout.resolve("src/main/scala/graft/SparkEntry.scala")))
    assert(Paths.get(SparkEntry.CorpusRoot) == checkout.resolve("target/oracle"))
    assert(SparkEntry.corpusDir("any/where/sf0.1") == s"${SparkEntry.CorpusRoot}/sf0.1")
  }

  test("the q28 oracle SQL reads the sf0.01 corpus from corpusDir") {
    val sql = SparkEntry.oracleSql("q28_clips_verdicts")
    val corpus = SparkEntry.corpusDir("any/where/sf0.01")
    assert(sql.contains(s"read_parquet('$corpus/clips/"))
    assert(sql.contains(s"read_parquet('$corpus/baseline_clips/"))
    assert(sql.contains(s"read_parquet('$corpus/transcripts/"))
  }
}
