package graft.sources

import java.io.{ByteArrayInputStream, BufferedInputStream, DataInputStream}

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TarSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parse(bytes: Array[Byte]) =
    Tar.parseStream(new DataInputStream(
      new BufferedInputStream(new ByteArrayInputStream(bytes)))).toVector

  test("buildEntry/parseStream round-trip incl. binary content and padding edges") {
    // sizes straddling the 512-block boundary + raw binary bytes
    val members = Seq(
      "a.txt" -> Array[Byte](),
      "b.bin" -> Array[Byte](0, -1, 127, -128, 10, 13),
      "c.txt" -> Array.fill[Byte](511)('x'),
      "d.txt" -> Array.fill[Byte](512)('y'),
      "e.txt" -> Array.fill[Byte](513)('z'))
    val bytes = members.flatMap { case (n, c) => Tar.buildEntry(n, c) } ++
      new Array[Byte](1024)
    val got = parse(bytes.toArray)
    assert(got.map(_._1) == members.map(_._1))
    got.zip(members).foreach { case ((_, gc), (n, c)) =>
      assert(gc.toSeq == c.toSeq, n)
    }
  }

  test("member names over 100 bytes are rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      Tar.buildEntry("x" * 101, Array[Byte](1))
    }
    assert(e.getMessage.contains("100 bytes"))
  }

  test("writeTarShards/read: one shard per partition, WebDataset pairing survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tar_spec").toString
    val df = (1L to 50L).flatMap(i => Seq(
        (s"$i.txt", s"sample $i text".getBytes("UTF-8")),
        (s"$i.cls", s"label$i".getBytes("UTF-8"))))
      .toDF("name", "content").repartition(3)
    Tar.writeTarShards(df, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar"))
    assert(files.length == 3, files.map(_.getName).toSeq)
    val back = Tar.read(spark, dir)
    assert(back.count() == 100)
    val got = back.select(col("name"), col("content").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("7.txt") == "sample 7 text")
    assert(got("7.cls") == "label7")
  }

  test("interop: the system GNU tar lists and extracts our shards") {
    import scala.sys.process._
    assume(("which tar" #> new java.io.File("/dev/null")).! == 0)
    val dir = java.nio.file.Files.createTempDirectory("tar_interop")
    val shard = dir.resolve("s.tar")
    val bytes = Tar.buildEntry("one.txt", "first member".getBytes("UTF-8")) ++
      Tar.buildEntry("two.txt", "second member".getBytes("UTF-8")) ++
      new Array[Byte](1024)
    java.nio.file.Files.write(shard, bytes)
    val names = Seq("tar", "-tf", shard.toString).!!.trim.linesIterator.toSeq
    assert(names == Seq("one.txt", "two.txt"))
    // sys.process's !! appends a line terminator to captured stdout
    val content = Seq("tar", "-xOf", shard.toString, "two.txt").!!
    assert(content.stripLineEnd == "second member")
  }
}
