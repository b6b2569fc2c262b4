package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class FsUtilSpec extends SparkSpec {

  test("exists/write/read/delete round-trip, plain and gzip by extension") {
    val dir = SparkSpec.tempDir("fsutil").toString
    val plain = s"$dir/note.txt"
    val gz = s"$dir/note.txt.gz"

    assert(!FsUtil.exists(spark, plain))
    FsUtil.write(spark, plain, "hello fs")
    FsUtil.write(spark, gz, "hello compressed fs")
    assert(FsUtil.exists(spark, plain) && FsUtil.exists(spark, gz))

    assert(FsUtil.read(spark, plain) === "hello fs")
    assert(FsUtil.read(spark, gz) === "hello compressed fs")
    // the .gz really is gzip on disk: magic bytes 1f 8b
    val head = Files.readAllBytes(java.nio.file.Paths.get(gz)).take(2)
    assert(head(0) === 0x1f.toByte && head(1) === 0x8b.toByte)

    assert(FsUtil.delete(spark, plain))
    assert(!FsUtil.exists(spark, plain))
    assert(FsUtil.delete(spark, dir, recursive = true))
  }
}
