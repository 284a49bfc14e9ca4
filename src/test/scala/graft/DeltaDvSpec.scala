package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.DeltaDv

/** The deletion-vector codec ([[graft.core.DeltaDv]]): Z85 against the
  * PUBLISHED test vector, roaring-bitmap-array round-trips across the
  * 32-bit bucket boundary, the framed file layout with CRC and size
  * checks, and the uuid-derived `u`-storage path. Pure JVM — no Spark
  * session. */
class DeltaDvSpec extends AnyFunSuite {

  test("Z85: the published HelloWorld vector, round-trips, bad input") {
    // the Z85 spec's reference vector: 0x86 0x4F 0xD2 0x6F 0xB5 0x59
    // 0xF7 0x5B encodes to "HelloWorld"
    val hello = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(DeltaDv.z85Encode(hello) == "HelloWorld")
    assert(DeltaDv.z85Decode("HelloWorld").sameElements(hello))
    // arbitrary bytes round-trip (with pad-to-4 truncated by caller)
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 3, 4, 15, 16, 64)) {
      val bytes = Array.fill(n)(rnd.nextInt().toByte)
      val decoded = DeltaDv.z85Decode(DeltaDv.z85Encode(bytes))
      assert(decoded.take(n).sameElements(bytes), s"n=$n")
    }
    intercept[IllegalArgumentException] { DeltaDv.z85Decode("abcd") }
    intercept[IllegalArgumentException] { DeltaDv.z85Decode("abc~d") }
  }

  test("bitmap array: round-trip incl. >2^32 row indexes, magic check") {
    for (pos <- Seq(
        Seq(0L),
        Seq(1L, 5L, 6L, 1000000L),
        // spans three 32-bit buckets — the RoaringBitmapArray point
        Seq(3L, (1L << 32) + 7L, (1L << 32) + 8L, (5L << 32) + 1L),
        (0L until 4096L).toSeq)) { // dense run (runOptimize path)
      val blob = DeltaDv.serializeBitmaps(pos)
      assert(DeltaDv.deserializeBitmaps(blob).toSeq == pos.sorted, s"$pos")
    }
    val bad = DeltaDv.serializeBitmaps(Seq(1L, 2L))
    bad(0) = (bad(0) + 1).toByte // corrupt the magic
    val e = intercept[IllegalArgumentException] {
      DeltaDv.deserializeBitmaps(bad) }
    assert(e.getMessage.contains("magic"))
  }

  test("DV file frame: version byte, offsets, size + CRC verified") {
    // uncached: a FileSystem.getLocal of a plain Configuration would cache the
    // stock local filesystem for every later spec in this JVM, in place of the
    // session's (Sessions.builder)
    val fs = org.apache.hadoop.fs.FileSystem.newInstanceLocal(
      new org.apache.hadoop.conf.Configuration())
    val dir = java.nio.file.Files.createTempDirectory("dvspec").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val blobA = DeltaDv.serializeBitmaps(Seq(1L, 3L))
    val blobB = DeltaDv.serializeBitmaps(Seq(0L, 2L, 9L))
    val (descA, fileA) = DeltaDv.uDescriptor(root, "", new java.util.UUID(1, 2),
      offset = 1, sizeInBytes = blobA.length, cardinality = 2)
    val offsets = DeltaDv.writeFile(fs, fileA, Seq(blobA, blobB))
    assert(offsets.head == 1, "first frame right after the version byte")
    assert(DeltaDv.readPositions(fs, root, descA).toSeq == Seq(1L, 3L))
    // the second frame at its returned offset
    val descB = DeltaDv.Descriptor("u", descA.pathOrInlineDv,
      Some(offsets(1)), blobB.length, 3)
    assert(DeltaDv.readPositions(fs, root, descB).toSeq == Seq(0L, 2L, 9L))
    // cardinality cross-check refuses
    val badCard = descA.copy(cardinality = 5)
    val e1 = intercept[IllegalArgumentException] {
      DeltaDv.readPositions(fs, root, badCard) }
    assert(e1.getMessage.contains("cardinality"))
    // declared size disagreeing with the frame refuses
    val badSize = descA.copy(sizeInBytes = blobA.length - 1)
    val e2 = intercept[IllegalArgumentException] {
      DeltaDv.readPositions(fs, root, badSize) }
    assert(e2.getMessage.contains("size"))
    // flipped data byte fails the CRC
    val raw = {
      val in = fs.open(fileA)
      try { val b = new Array[Byte](1 + 4 + blobA.length + 4)
        in.readFully(b); b } finally in.close()
    }
    raw(7) = (raw(7) ^ 0x1).toByte
    val out = fs.create(fileA, true); out.write(raw); out.close()
    val e3 = intercept[Exception] { DeltaDv.readPositions(fs, root, descA) }
    assert(e3.getMessage.toLowerCase.contains("checksum"))
  }

  test("inline descriptor: Z85 payload with pad truncation") {
    val pos = Seq(2L, 4L, 4095L)
    val blob = DeltaDv.serializeBitmaps(pos)
    val d = DeltaDv.Descriptor("i", DeltaDv.z85Encode(blob), None,
      blob.length, 3)
    val fs = org.apache.hadoop.fs.FileSystem.newInstanceLocal(
      new org.apache.hadoop.conf.Configuration())
    assert(DeltaDv.readPositions(fs,
      new org.apache.hadoop.fs.Path("/tmp"), d).toSeq == pos)
  }

  test("u-storage path: prefix + coded uuid derive the sidecar name") {
    val root = new org.apache.hadoop.fs.Path("/t")
    val uuid = java.util.UUID.fromString("00010203-0405-0607-0809-0a0b0c0d0e0f")
    val (d, file) = DeltaDv.uDescriptor(root, "ab/", uuid, 1, 10, 1)
    assert(d.pathOrInlineDv.startsWith("ab/") && d.pathOrInlineDv.length == 23)
    assert(file.toString == s"/t/ab/deletion_vector_$uuid.bin")
    // no prefix → table root
    val (_, f2) = DeltaDv.uDescriptor(root, "", uuid, 1, 10, 1)
    assert(f2.toString == s"/t/deletion_vector_$uuid.bin")
  }
}
