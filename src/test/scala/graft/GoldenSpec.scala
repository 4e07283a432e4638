package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Golden-file regression for the no-oracle queries (simhash pairs, LSH
  * ANN, fingerprints): canonical output at sf0.001 must match the
  * committed .reference files. Regenerate deliberately with
  * `Test/runMain graft.tools.DumpGoldens` after an intentional change. */
class GoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  graft.tools.DumpGoldens.goldenQueries.foreach { name =>
    test(s"$name matches golden reference") {
      val expect = Files.readString(Paths.get(s"src/test/resources/goldens/$name.reference"))
      val got = graft.tools.DumpGoldens.canon(SparkEntry.queries(name)(spark, sf))
      assert(got == expect, s"$name drifted from golden (regenerate via DumpGoldens if intended)")
    }
  }
}
