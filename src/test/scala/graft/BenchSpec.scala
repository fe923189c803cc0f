package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** `tools/bench.sh` ends on the `BENCH_JSON` marker only when the Bench
  * run succeeded: a failed run must not end on the previous run's
  * numbers. The wrapper runs against a stand-in `sbt` that exits with a
  * chosen status. */
class BenchScriptSpec extends AnyFunSuite {

  private def runWith(sbtStatus: Int): (Int, Seq[String]) = {
    val bin = Files.createTempDirectory("fake_sbt")
    val sbt = bin.resolve("sbt")
    Files.writeString(sbt, s"#!/bin/sh\necho 'fake sbt run'\nexit $sbtStatus\n")
    Files.setPosixFilePermissions(sbt, PosixFilePermissions.fromString("rwxr-xr-x"))
    val path = s"$bin:${sys.env.getOrElse("PATH", "/usr/bin:/bin")}"
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val rc = Process(Seq("bash", "tools/bench.sh"), None, "PATH" -> path)
      .!(ProcessLogger(lines += _, _ => ()))
    (rc, lines.toSeq)
  }

  test("bench.sh echoes the marker after a successful run only") {
    val (okRc, okOut) = runWith(0)
    assert(okRc == 0 && okOut.last.startsWith("BENCH_JSON "), okOut.mkString("\n"))
    val (failRc, failOut) = runWith(3)
    assert(failRc == 3, failOut.mkString("\n"))
    assert(!failOut.exists(_.startsWith("BENCH_JSON")), failOut.mkString("\n"))
  }
}

/** The multi-core calibration probe never runs more workers than the
  * JVM has cores, so `calib_mc_factor` reads host contention rather
  * than its own oversubscription. */
class McThreadCountSpec extends AnyFunSuite {
  test("calibration workers are clamped to the available cores") {
    assert(Bench.mcThreadCount(32, 4) == 4)
    assert(Bench.mcThreadCount(8, 16) == 8)
    assert(Bench.mcThreadCount(64, 64) == 32)
    assert(Bench.mcThreadCount(4, 1) == 1)
  }
}
