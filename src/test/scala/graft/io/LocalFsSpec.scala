package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpec

/** The engine's `file:` FileSystem sets the modes stock Hadoop sets, keeps
  * the `.crc` integrity check, and is what the session resolves. */
class LocalFsSpec extends SparkSpec {

  private def mode(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** A fresh instance under a 027 umask: the JVM creates files 0644 and
    * dirs 0755 under the usual 022 process umask, so only a working
    * `setPermission` yields 0640 / 0750. */
  private def fsWithUmask027(fs: FileSystem = new LocalFs): (FileSystem, Configuration) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(FsPermission.UMASK_LABEL, "027")
    fs.initialize(URI.create("file:///"), conf)
    (fs, conf)
  }

  test("the session's file: FileSystem is the engine class") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(Files.createTempDirectory("graft-localfs").toString)
    assert(dir.getFileSystem(conf).isInstanceOf[LocalFs])
  }

  test("created files and dirs get stock Hadoop's modes under the conf's umask") {
    val base = Files.createTempDirectory("graft-localfs").toString
    val (fs, conf) = fsWithUmask027()
    val stock = new org.apache.hadoop.fs.LocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    try {
      val umask = FsPermission.getUMask(conf)
      val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
      val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
      assert(fileMode == "rw-r-----" && dirMode == "rwxr-x---")
      for ((root, f) <- Seq(s"$base/engine" -> fs, s"$base/stock" -> stock)) {
        val out = f.create(new Path(s"$root/a/b/c/part.bin"), true)
        try out.write(Array.fill[Byte](100)(7)) finally out.close()
        assert(mode(s"$root/a/b/c/part.bin") == fileMode, root)
        assert(mode(s"$root/a/b/c/.part.bin.crc") == fileMode, root)
        for (d <- Seq("a", "a/b", "a/b/c")) assert(mode(s"$root/$d") == dirMode, s"$root/$d")
      }
    } finally { fs.close(); stock.close() }
  }

  test("explicit setPermission reads back exactly, sticky bit included") {
    val base = Files.createTempDirectory("graft-localfs").toString
    val (fs, _) = fsWithUmask027()
    try {
      val file = new Path(s"$base/f")
      fs.create(file, true).close()
      for (m <- Seq("600", "750")) {
        fs.setPermission(file, new FsPermission(m))
        assert(fs.getFileStatus(file).getPermission == new FsPermission(m), m)
      }
      // the sticky bit takes the stock path
      val dir = new Path(s"$base/d")
      fs.mkdirs(dir)
      fs.setPermission(dir, new FsPermission("1777"))
      assert(fs.getFileStatus(dir).getPermission == new FsPermission("1777"))
    } finally fs.close()
  }

  test("the .crc sidecar is written and a flipped data byte fails the read") {
    val base = Files.createTempDirectory("graft-localfs").toString
    // the stock failure report moves a corrupt file into a `bad_files` dir
    // at its highest writable ancestor (`/` when run as root); keep it put
    val (fs, _) = fsWithUmask027(new LocalFs {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    })
    try {
      val p = new Path(s"$base/data.bin")
      val bytes = Array.tabulate[Byte](2000)(i => (i % 251).toByte)
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
      assert(Files.isRegularFile(Paths.get(s"$base/.data.bin.crc")))

      def readAll(): Array[Byte] = {
        val in = fs.open(p)
        val buf = new Array[Byte](bytes.length)
        try in.readFully(buf) finally in.close()
        buf
      }
      assert(readAll().sameElements(bytes))

      val raf = new java.io.RandomAccessFile(s"$base/data.bin", "rw")
      try { raf.seek(1000); raf.write(bytes(1000) ^ 0xff) } finally raf.close()
      intercept[ChecksumException](readAll())
    } finally fs.close()
  }
}
