package graft

import org.scalatest.funsuite.AnyFunSuite

class MainArgsSpec extends AnyFunSuite {

  test("parseArgs reads the documented flags") {
    val opts = Main.parseArgs(Array("--input", "synth:20000", "--output", "/tmp/kg",
      "--threshold", "0.8", "--dedup", "0.9", "--strip-boilerplate", "1000"))
    assert(opts == Map("input" -> "synth:20000", "output" -> "/tmp/kg",
      "threshold" -> "0.8", "dedup" -> "0.9", "strip-boilerplate" -> "1000"))
  }

  test("parseArgs rejects an unknown flag with the usage line") {
    val e = intercept[IllegalArgumentException](
      Main.parseArgs(Array("--input", "synth:100", "--treshold", "0.8")))
    assert(e.getMessage.contains("unknown flag --treshold"))
    assert(e.getMessage.contains(Main.Usage))
  }

  test("parseArgs rejects a flag without a value with the usage line") {
    val trailing = intercept[IllegalArgumentException](
      Main.parseArgs(Array("--input", "synth:100", "--dedup")))
    assert(trailing.getMessage.contains("--dedup needs a value"))
    assert(trailing.getMessage.contains(Main.Usage))
    val followed = intercept[IllegalArgumentException](
      Main.parseArgs(Array("--dedup", "--input", "synth:100")))
    assert(followed.getMessage.contains("--dedup needs a value"))
  }
}
