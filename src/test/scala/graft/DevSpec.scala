package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Dev` mode dispatch: the kept modes are the only ones, and an
  * unknown or missing mode fails with the usage text before any session
  * starts. */
class DevSpec extends AnyFunSuite {

  private def runCapturingErr(args: String*): (Int, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val code = Console.withErr(err)(Dev.run(args.toArray))
    (code, err.toString("UTF-8"))
  }

  test("the dev modes are exactly the kept measurements") {
    assert(Dev.modes.keySet ==
      Set("pipeline", "pipeline-sf", "noop", "sqlaudit", "explain", "docscale", "scaling-arm"))
  }

  test("an unknown or missing mode exits non-zero with the usage text") {
    for (args <- Seq(Seq("both"), Seq("rollup"), Seq("gen2"), Seq.empty[String])) {
      val (code, err) = runCapturingErr(args: _*)
      assert(code != 0, args)
      assert(err.contains("usage: graft.Dev <mode>"), args)
      Dev.modes.keys.foreach(m => assert(err.contains(m), m))
    }
  }
}
