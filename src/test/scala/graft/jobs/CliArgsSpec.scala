package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The standalone CLI takes `(flag, value)` pairs over `-b -i -d -c -p` and
  * throws on anything else before a session is built: a flag that silently
  * fell back to its default would run the job somewhere the operator did not
  * ask for (a trailing `-c` on `/tmp/graft-checkpoint`). */
class CliArgsSpec extends AnyFunSuite with Matchers {
  import ValidationJob.parseArgs

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](parseArgs(args.toArray)).getMessage

  test("flag/value pairs, values may start with '-'") {
    parseArgs(Array("-b", "h:9092", "-i", "ingest.t1.claims.in")) shouldBe
      Map("-b" -> "h:9092", "-i" -> "ingest.t1.claims.in")
    parseArgs(Array("-p", "-secret-", "-i", "t", "-b", "h", "-d", "5", "-c", "/ck")) shouldBe
      Map("-p" -> "-secret-", "-i" -> "t", "-b" -> "h", "-d" -> "5", "-c" -> "/ck")
  }

  test("a trailing flag with no value throws instead of taking its default") {
    rejected("-b", "h", "-i", "t", "-c") should include("needs a value")
    rejected("-b", "h", "-i", "t", "-d") should include("needs a value")
    rejected("-b", "h", "-i", "t", "-p") should include("needs a value")
  }

  test("unknown, repeated and missing required flags throw; -x names the one delivery mode") {
    rejected("-b", "h", "-i", "t", "-x", "true") should include("always exactly-once")
    rejected("-b", "h", "-i", "t", "--brokers", "h") should include("unknown flag --brokers")
    rejected("-b", "h", "-i", "t", "-b", "h2") should include("given twice")
    rejected("-b", "h") should include("missing required flag -i")
    rejected() should include("missing required flag -b")
  }
}
