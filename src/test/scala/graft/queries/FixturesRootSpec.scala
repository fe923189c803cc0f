package graft.queries

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** `fixturesRoot` comes from the checkout the program runs from, never
  * from a fixed path: `GRAFT_FIXTURES_DIR`, then `graft.fixtures.dir`,
  * then the classpath's `fixtures` directory. */
class FixturesRootSpec extends AnyFunSuite {

  test("fixturesRoot: the graft.fixtures.dir property, else the classpath's fixtures") {
    assume(sys.env.get("GRAFT_FIXTURES_DIR").isEmpty,
      "GRAFT_FIXTURES_DIR is set and takes precedence")
    val prev = sys.props.get("graft.fixtures.dir")
    try {
      sys.props("graft.fixtures.dir") = "/elsewhere/fixtures"
      assert(fixturesRoot == "/elsewhere/fixtures")
      sys.props -= "graft.fixtures.dir"
      assert(new File(fixturesRoot, "jec_tables.csv").isFile, fixturesRoot)
      assert(new File(fixturesRoot, "runs").isDirectory, fixturesRoot)
    } finally prev.foreach(sys.props("graft.fixtures.dir") = _)
  }
}
