package graft.sources

import graft.SparkSpec.assumeRefData
import org.scalatest.funsuite.AnyFunSuite

/** TorchPt against the reference's actual trained model files, pinned
  * to goldens decoded INDEPENDENTLY in Python (a pickle.Unpickler with
  * find_class/persistent_load overrides + struct over the zip storages
  * — no torch, no shared code with the Scala reader). */
class TorchPtSpec extends AnyFunSuite {

  private val fold0 = "trained_models/vbf/models/model_pytorch_test_0.pt"
  private lazy val sd = TorchPt.readStateDict(graft.queries.refData(fold0)).toMap

  test("fold-0 state dict carries the 24->128->64->32->1 architecture") {
    assumeRefData(fold0)
    assert(sd.keySet == Set("fc1.weight", "fc1.bias", "fc2.weight",
      "fc2.bias", "fc3.weight", "fc3.bias", "output.weight", "output.bias"))
    assert(sd("fc1.weight").shape == Seq(128, 24))
    assert(sd("fc2.weight").shape == Seq(64, 128))
    assert(sd("fc3.weight").shape == Seq(32, 64))
    assert(sd("output.weight").shape == Seq(1, 32))
    assert(sd("fc1.bias").shape == Seq(128) && sd("output.bias").shape == Seq(1))
  }

  test("spot values match the independent Python decode bit-for-bit") {
    assumeRefData(fold0)
    val w1 = sd("fc1.weight")
    assert(w1.data(0) == 6.598455905914307)
    assert(w1.data(1) == 0.16769953072071075)
    assert(w1.data(2) == 1.6084096431732178)
    assert(w1.data.last == 2.043458938598633)
    assert(sd("fc1.bias").data(0) == 9.787968635559082)
    assert(sd("fc2.weight").data(0) == 1.243477702140808)
    assert(sd("fc3.bias").data(1) == -26.130550384521484)
    assert(sd("output.weight").data(0) == 0.16783945262432098)
    assert(sd("output.bias").data(0) == 0.00915406085550785)
  }

  test("all four folds parse with consistent shapes") {
    assumeRefData((1 until 4).map(f =>
      s"trained_models/vbf/models/model_pytorch_test_$f.pt"): _*)
    (1 until 4).foreach { fold =>
      val m = TorchPt.readStateDict(graft.queries.refData(
        s"trained_models/vbf/models/model_pytorch_test_$fold.pt")).toMap
      assert(m("fc1.weight").shape == Seq(128, 24), s"fold $fold")
      assert(m("output.weight").shape == Seq(1, 32), s"fold $fold")
    }
  }

  test("a zip without data.pkl is rejected") {
    val p = java.nio.file.Files.createTempFile("graft_pt", ".pt")
    val zo = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    zo.putNextEntry(new java.util.zip.ZipEntry("something_else"))
    zo.write(Array[Byte](1, 2, 3)); zo.closeEntry(); zo.close()
    intercept[IllegalArgumentException] { TorchPt.readStateDict(p.toString) }
  }
}
