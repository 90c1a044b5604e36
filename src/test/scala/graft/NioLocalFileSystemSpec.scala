package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.hadoop.NioLocalFileSystem

/** The fork-free local filesystem must report EXACTLY what Hadoop's own
  * RawLocalFileSystem reports — the round-14 listing overrides
  * (getFileStatus/listStatus with eager NIO attributes) replace a lazy
  * status whose permission access forks `ls -ld` per file, so every
  * field the lazy path would have loaded is compared against the
  * upstream implementation as ground truth.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fs(): (NioLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration(false)
    val nio = new NioLocalFileSystem
    nio.initialize(java.net.URI.create("file:///"), conf)
    val raw = new RawLocalFileSystem
    raw.initialize(java.net.URI.create("file:///"), conf)
    (nio, raw)
  }

  test("getFileStatus matches RawLocalFileSystem field by field") {
    val (nio, raw) = fs()
    val dir = Files.createTempDirectory("nio_fs_stat")
    val f = dir.resolve("a.parquet")
    Files.write(f, Array[Byte](1, 2, 3))
    val p = new Path(f.toUri)
    val (a, b) = (nio.getFileStatus(p), raw.getFileStatus(p))
    assert(a.getLen === b.getLen)
    assert(a.isDirectory === b.isDirectory)
    assert(a.getModificationTime === b.getModificationTime)
    assert(a.getPermission === b.getPermission)
    assert(a.getOwner === b.getOwner)
    assert(a.getGroup === b.getGroup)
    assert(a.getPath.toUri.getPath === b.getPath.toUri.getPath)
    // directory status too
    val (da, db) =
      (nio.getFileStatus(new Path(dir.toUri)),
        raw.getFileStatus(new Path(dir.toUri)))
    assert(da.isDirectory && db.isDirectory)
    assert(da.getPermission === db.getPermission)
  }

  test("getFileStatus on a missing path throws FileNotFoundException") {
    val (nio, _) = fs()
    val dir = Files.createTempDirectory("nio_fs_missing")
    intercept[java.io.FileNotFoundException] {
      nio.getFileStatus(new Path(dir.resolve("nope").toUri))
    }
  }

  test("listStatus matches RawLocalFileSystem: files, subdir, dotfile") {
    val (nio, raw) = fs()
    val dir = Files.createTempDirectory("nio_fs_list")
    Files.write(dir.resolve("x.parquet"), Array[Byte](9))
    Files.write(dir.resolve(".hidden"), Array[Byte](1))
    Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("sub").resolve("y.parquet"), Array[Byte](1, 2))
    val p = new Path(dir.toUri)
    def key(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath.getName, s.getLen, s.isDirectory, s.getPermission.toShort)
    val a = nio.listStatus(p).map(key).sortBy(_._1).toSeq
    val b = raw.listStatus(p).map(key).sortBy(_._1).toSeq
    assert(a === b)
    assert(a.map(_._1) === Seq(".hidden", "sub", "x.parquet"))
    // listStatus of a plain file: the single-entry contract
    val one = nio.listStatus(new Path(dir.resolve("x.parquet").toUri))
    assert(one.length === 1 && one.head.getLen === 1)
    // missing directory: FileNotFoundException like the parent
    intercept[java.io.FileNotFoundException] {
      nio.listStatus(new Path(dir.resolve("gone").toUri))
    }
  }

  test("recursive listFiles yields every leaf with eager permissions") {
    val (nio, _) = fs()
    val dir = Files.createTempDirectory("nio_fs_walk")
    Files.createDirectories(dir.resolve("part=a"))
    Files.createDirectories(dir.resolve("part=b"))
    Files.write(dir.resolve("part=a").resolve("f1.parquet"), Array[Byte](1))
    Files.write(dir.resolve("part=b").resolve("f2.parquet"), Array[Byte](1, 2))
    val it = nio.listFiles(new Path(dir.toUri), true)
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val s = it.next() // LocatedFileStatus copy reads permission/owner —
      got += ((s.getPath.getName, s.getLen)) // the fork the override kills
      assert(s.getPermission != null && s.getOwner.nonEmpty)
    }
    assert(got.sortBy(_._1).toSeq === Seq(("f1.parquet", 1L), ("f2.parquet", 2L)))
  }

  test("the Spark session's file:// filesystem IS the NIO subclass") {
    // the engine-level wiring (SessionTuning) must actually take effect:
    // a misspelled conf key would silently fall back to the forking FS
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    val f = FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(f.isInstanceOf[NioLocalFileSystem],
      s"expected NioLocalFileSystem, got ${f.getClass.getName}")
  }

  test("paths with spaces and URI-escapable names stat correctly") {
    val (nio, raw) = fs()
    val dir = Files.createTempDirectory("nio fs sp")
    val f = dir.resolve("a b%c.parquet")
    Files.write(f, Array[Byte](7, 7))
    val p = new Path(new Path(dir.toUri), "a b%c.parquet")
    assert(nio.getFileStatus(p).getLen === raw.getFileStatus(p).getLen)
    assert(nio.listStatus(new Path(dir.toUri)).map(_.getPath.getName).toSeq
      === raw.listStatus(new Path(dir.toUri)).map(_.getPath.getName).toSeq)
  }

  test("listStatus keeps a child name holding ':' as one path segment") {
    val (nio, raw) = fs()
    val dir = Files.createTempDirectory("nio_fs_colon")
    Files.write(dir.resolve("a:b.parquet"), Array[Byte](1))
    val listed = nio.listStatus(new Path(dir.toUri))
    assert(listed.map(_.getPath.getName).toSeq === Seq("a:b.parquet"))
    assert(listed.map(_.getPath).toSeq ===
      raw.listStatus(new Path(dir.toUri)).map(_.getPath).toSeq)
    // the listed path round-trips to the same file
    assert(nio.getFileStatus(listed.head.getPath).getLen === 1L)
  }

  test("getFileStatus under a regular file (ENOTDIR) throws " +
      "FileNotFoundException") {
    val (nio, raw) = fs()
    val dir = Files.createTempDirectory("nio_fs_notdir")
    val f = dir.resolve("plain")
    Files.write(f, Array[Byte](1))
    val p = new Path(new Path(f.toUri), "child")
    intercept[java.io.FileNotFoundException](raw.getFileStatus(p))
    intercept[java.io.FileNotFoundException](nio.getFileStatus(p))
    assert(!nio.exists(p))
  }
}
