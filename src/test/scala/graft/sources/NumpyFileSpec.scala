package graft.sources

import graft.SparkSpec.assumeRefData
import org.scalatest.funsuite.AnyFunSuite

/** NumpyFile against both synthetic buffers (format edge cases the
  * fixture files don't cover) and the reference's actual scaler files
  * (cross-checked against values read independently by NumPy). */
class NumpyFileSpec extends AnyFunSuite {

  private def write(bytes: Array[Byte]): String = {
    val p = java.nio.file.Files.createTempFile("graft_npy", ".npy")
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  private def npy(descr: String, shape: String, payload: Array[Byte]): Array[Byte] = {
    val header = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shape, }"
    val pad = (64 - (10 + header.length + 1) % 64) % 64
    val h = header + " " * pad + "\n"
    val out = java.nio.ByteBuffer.allocate(10 + h.length + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(0x93.toByte).put("NUMPY".getBytes("ISO-8859-1"))
    out.put(1.toByte).put(0.toByte).putShort(h.length.toShort)
    out.put(h.getBytes("ISO-8859-1")).put(payload)
    out.array()
  }

  test("synthetic <f8 rank-2 and <f4 rank-1 arrays parse exactly") {
    val f8 = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.5, -2.25, 3.0, 1e300).foreach(f8.putDouble)
    val a = NumpyFile.read(write(npy("<f8", "(2, 2)", f8.array())))
    assert(a.shape == Seq(2, 2) && a.data.toSeq == Seq(1.5, -2.25, 3.0, 1e300))
    assert(a(1, 0) == 3.0)
    val f4 = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.5f, -1.0f, 2.5f).foreach(f4.putFloat)
    val b = NumpyFile.read(write(npy("<f4", "(3,)", f4.array())))
    assert(b.shape == Seq(3) && b.data.toSeq == Seq(0.5, -1.0, 2.5))
  }

  test("malformed inputs fail fast with the offending property named") {
    intercept[IllegalArgumentException] {
      NumpyFile.read(write("not numpy at all".getBytes)) }
    val e = intercept[RuntimeException] {
      NumpyFile.read(write(npy("<i8", "(1,)", new Array[Byte](8)))) }
    assert(e.getMessage.contains("<i8"))
    intercept[IllegalArgumentException] { // truncated payload
      NumpyFile.read(write(npy("<f8", "(4,)", new Array[Byte](8)))) }
  }

  test("the reference's fold-0 scaler file matches NumPy-read goldens") {
    val fold0 = "trained_models/vbf/scalers/scalers_pytorch_test_0.npy"
    assumeRefData(fold0)
    val a = NumpyFile.read(graft.queries.refData(fold0))
    assert(a.shape == Seq(2, 24))
    // spot goldens printed by numpy.load (full double precision)
    assert(a(0, 0) == 124.06333396475443 && a(1, 0) == 10.354834276063958)
    assert(a(0, 16) == 750.9765828746613 && a(1, 16) == 434.9759742930827)
  }
}
