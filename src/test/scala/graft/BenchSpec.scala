package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The bench tail re-run protocol reads its per-cell bands from the
 * committed baseline; a parser that matches nothing silently turns the
 * protocol off. */
class BenchSpec extends AnyFunSuite {

  test("re-run bands parse from the committed pretty-printed baseline, and from compact JSON") {
    val bands = Bench.parseBands(
      new String(Files.readAllBytes(Paths.get(Bench.baselinePath)), "UTF-8"))
    assert(bands.size >= 200, s"only ${bands.size} bands parsed")
    assert(bands.contains("cc") && bands.contains("pagerank_converge"))
    assert(Bench.parseBands("""{"cc":1.5,"q_x_1" : 2}""") == Map("cc" -> 1.5, "q_x_1" -> 2.0))
  }

  test("a band file that is missing or holds no band fails, naming its path") {
    assert(Bench.readBands(Bench.baselinePath).size >= 200)
    val missing = Files.createTempDirectory("graft-bands").resolve("absent.json").toString
    assert(intercept[IllegalStateException](Bench.readBands(missing)).getMessage.contains(missing))
    val empty = Files.createTempFile("graft-bands", ".json")
    Files.write(empty, "{}".getBytes("UTF-8"))
    assert(intercept[IllegalStateException](Bench.readBands(empty.toString))
      .getMessage.contains(empty.toString))
  }
}
