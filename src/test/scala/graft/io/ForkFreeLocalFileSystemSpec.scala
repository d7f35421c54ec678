package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` filesystem answers what Hadoop's forking
  * `RawLocalFileSystem` answers, keeps `.crc` checksums on both the
  * `FileSystem` and the `FileContext` side, and leaves symlinks and the
  * sticky bit to Hadoop's own code.
  */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {

  private val local = URI.create("file:///")

  private val conf = {
    val c = new Configuration()
    ForkFreeLocalFileSystem.confKeys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def fs: FileSystem = FileSystem.get(local, conf)

  private def fc: FileContext = FileContext.getFileContext(local, conf)

  private def tempDir(): java.nio.file.Path = Files.createTempDirectory("graft_forkfree_")

  private def posix(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the conf keys install the fork-free classes behind file:") {
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[ForkFreeLocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
    // the cache is off for file:, so no instance created under another
    // conf can be served instead
    val (a, b) = (fs, fs)
    assert(!(a eq b))
  }

  test("file and dir permissions read back as set and match Hadoop's chmod path") {
    val dir = tempDir()
    val hadoop = new RawLocalFileSystem()
    hadoop.initialize(local, new Configuration())
    for (octal <- Seq("600", "644", "700", "755", "777"); kind <- Seq("file", "dir")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val (ours, theirs) = (dir.resolve(s"ours_${kind}_$octal"), dir.resolve(s"theirs_${kind}_$octal"))
      for (p <- Seq(ours, theirs))
        if (kind == "file") Files.write(p, Array[Byte](1)) else Files.createDirectory(p)
      fs.setPermission(new Path(ours.toString), perm)
      hadoop.setPermission(new Path(theirs.toString), perm)
      val expected = PosixFilePermissions.toString(PosixFilePermissions.fromString(perm.toString))
      assert(posix(ours) == expected, s"$kind $octal")
      assert(posix(theirs) == expected, s"$kind $octal through Hadoop's chmod")
    }
    // created with a permission: the create path goes through setPermission
    val made = new Path(dir.resolve("made").toString)
    assert(fs.mkdirs(made, new FsPermission(Integer.parseInt("705", 8).toShort)))
    assert(posix(Paths.get(made.toString)) == "rwx---r-x")
  }

  test("a sticky-bit mode falls back to Hadoop's code") {
    val dir = tempDir().resolve("sticky")
    Files.createDirectory(dir)
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    // java.nio cannot set the sticky bit: only Hadoop's chmod path does
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8), mode.toOctalString)
  }

  test("link status: plain paths, a symlink, a dangling symlink, a missing path") {
    val dir = tempDir()
    val file = dir.resolve("target")
    Files.write(file, "abc".getBytes(StandardCharsets.UTF_8))
    val plain = fs.getFileLinkStatus(new Path(file.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 3)
    val dirStatus = fs.getFileLinkStatus(new Path(dir.toString))
    assert(!dirStatus.isSymlink && dirStatus.isDirectory)

    val link = dir.resolve("link")
    Files.createSymbolicLink(link, file)
    val dangling = dir.resolve("dangling")
    Files.createSymbolicLink(dangling, dir.resolve("gone"))
    for ((l, target) <- Seq(link -> file, dangling -> dir.resolve("gone"))) {
      val st = fs.getFileLinkStatus(new Path(l.toString))
      assert(st.isSymlink, l)
      assert(st.getSymlink.toUri.getPath == target.toString, l)
    }

    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("FileContext.rename(OVERWRITE) replaces an existing file with its checksum") {
    val dir = tempDir()
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    val (tmp, dst) = (new Path(s"$dir/.1.tmp"), new Path(s"$dir/1"))
    write(dst, "old")
    write(tmp, "new offsets")
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new offsets")
    assert(!fc.util.exists(tmp))
    assert(Files.exists(dir.resolve(".1.crc")) && !Files.exists(dir.resolve("..1.tmp.crc")))
  }

  test("a flipped byte in a written file fails its read with ChecksumException") {
    val dir = tempDir()
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val p = new Path(s"$dir/data.bin")
    val out = fs.create(p)
    try out.write(payload) finally out.close()
    // the FileSystem side writes the same .crc as Hadoop's LocalFileSystem
    val viaHadoop = new Path(s"$dir/hadoop.bin")
    val hadoop = new org.apache.hadoop.fs.LocalFileSystem()
    hadoop.initialize(local, new Configuration())
    val hout = hadoop.create(viaHadoop)
    try hout.write(payload) finally hout.close()
    assert(Files.readAllBytes(dir.resolve(".data.bin.crc")).sameElements(
      Files.readAllBytes(dir.resolve(".hadoop.bin.crc"))))

    val raf = new java.io.RandomAccessFile(s"$dir/data.bin", "rw")
    try { raf.seek(1000); raf.write(payload(1000) ^ 0x01) } finally raf.close()
    // read through the FileContext side (the FileSystem side's failure
    // report moves the bad file to a `bad_files` dir at its mount's root),
    // with a buffer size and without: Spark's checkpoint reads use the
    // one-argument `open`, which Hadoop's LocalFs sends to the raw
    // filesystem unverified
    for (in <- Seq(fc.open(p, 4096), fc.open(p)))
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }
}
