package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GzipIngest, TarIngest}

/** q208's ustar writer/parser, guarded three ways: golden header bytes
  * assembled longhand (the JDK has no tar codec), a checksum that
  * provably fires on corruption, and — the independent decoder — GNU
  * tar itself listing and extracting an own-written `.tgz` when the
  * system binary exists.
  */
class TarSpec extends AnyFunSuite with SparkTestBase {

  test("golden bytes: the ustar header layout, assembled longhand") {
    val e = TarIngest.entry("a.txt", "hi".getBytes("US-ASCII"))
    assert(e.length == 1024) // header + one padded data block
    // name
    assert(new String(e, 0, 5, "US-ASCII") == "a.txt" && e(5) == 0)
    // mode 0644 as 7 octal digits, NUL-terminated (POSIX numeric form)
    assert(new String(e, 100, 7, "US-ASCII") == "0000644" && e(107) == 0)
    // size 2 as 11 octal digits, NUL-terminated
    assert(new String(e, 124, 11, "US-ASCII") == "00000000002" && e(135) == 0)
    // typeflag regular
    assert(e(156) == '0')
    // magic "ustar\0" + version "00"
    assert(new String(e, 257, 5, "US-ASCII") == "ustar" && e(262) == 0)
    assert(new String(e, 263, 2, "US-ASCII") == "00")
    // checksum: recompute with the field as spaces, compare to stored
    var sum = 0L
    (0 until 512).foreach(i => sum += (if (i >= 148 && i < 156) ' '.toInt
                                       else e(i) & 0xff))
    val stored = java.lang.Long.parseLong(
      new String(e, 148, 6, "US-ASCII"), 8)
    assert(stored == sum)
    assert(e(154) == 0 && e(155) == ' ') // NUL + space after the digits
    // payload + zero padding
    assert(e(512) == 'h' && e(513) == 'i')
    assert((514 until 1024).forall(i => e(i) == 0))
  }

  test("round trip incl. ragged sizes and multi-entry archives") {
    val files = Seq(
      "empty.bin" -> Array.emptyByteArray,
      "one.bin" -> Array[Byte](7),
      "block.bin" -> Array.fill(512)('b'.toByte),
      "block1.bin" -> Array.fill(513)('c'.toByte),
      "text.txt" -> ("x" * 1000).getBytes("US-ASCII"))
    val got = TarIngest.parse(TarIngest.archive(files))
    assert(got.map(_._1) == files.map(_._1))
    got.zip(files).foreach { case ((_, g), (_, w)) =>
      assert(java.util.Arrays.equals(g, w))
    }
  }

  test("the header checksum fires on corruption") {
    val a = TarIngest.archive(Seq("f.txt" -> "payload".getBytes("US-ASCII")))
    val bad = a.clone()
    bad(0) = 'z' // corrupt the name -> stored checksum no longer matches
    val e = intercept[IllegalArgumentException](TarIngest.parse(bad))
    assert(e.getMessage.contains("checksum"))
  }

  test("GNU tar accepts an own-written .tgz (independent decoder)") {
    val tarBin = Seq("/bin/tar", "/usr/bin/tar").find(new java.io.File(_).exists)
    assume(tarBin.isDefined, "no system tar available")
    val files = Seq("doc_1.txt" -> "first doc", "doc_2.txt" -> "second body")
    val tgz = GzipIngest.gzipOwn(TarIngest.archive(
      files.map { case (n, t) => (n, t.getBytes("UTF-8")) }), "s.tar")
    val dir = tempDir("graft_tar").toFile
    val f = new java.io.File(dir, "s.tgz")
    java.nio.file.Files.write(f.toPath, tgz)
    val list = new ProcessBuilder(tarBin.get, "-tzf", f.getAbsolutePath)
      .redirectErrorStream(true).start()
    val names = new String(list.getInputStream.readAllBytes(), "UTF-8")
    assert(list.waitFor() == 0, s"tar -t failed:\n$names")
    assert(names.split("\n").toSeq == files.map(_._1))
    val extract = new ProcessBuilder(tarBin.get, "-xzf", f.getAbsolutePath,
      "-C", dir.getAbsolutePath).redirectErrorStream(true).start()
    val elog = new String(extract.getInputStream.readAllBytes(), "UTF-8")
    assert(extract.waitFor() == 0, s"tar -x failed:\n$elog")
    files.foreach { case (n, t) =>
      val got = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, n).toPath), "UTF-8")
      assert(got == t, s"$n: GNU tar extracted different content")
    }
  }

  test("q208 output matches a driver-side shard+archive recompute") {
    val got = ops.CoreOps.tgzArchive(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getString(4))).toSeq
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = docs.groupBy(_._1 % 16).toSeq.flatMap { case (sh, ds) =>
      ds.sortBy(_._1).zipWithIndex.map { case ((id, text), i) =>
        (id, sh, i + 1L, text.length.toLong,
          md.digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString)
      }
    }.sortBy(_._1)
    assert(got == want)
  }
}
