package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The session's local filesystem ([[graft.core.NioLocalFs]]) answers
  * what stock `RawLocalFileSystem` answers, creates files with the
  * stock modes and keeps Hadoop's `.crc` checksumming. */
class NioLocalFsSpec extends SparkSpec {
  private def conf = spark.sparkContext.hadoopConfiguration

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), conf); fs }

  private def fields(st: FileStatus) = (st.getPath, st.getLen, st.isDirectory,
    st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
    st.getPermission, st.getOwner, st.getGroup, st.getReplication, st.getBlockSize)

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("statuses of a file, a directory, symlinks and a missing path equal stock RawLocalFileSystem's") {
    val dir = Files.createTempDirectory("niofs_status")
    val file = Files.write(dir.resolve("f.txt"), "hello".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.setPosixFilePermissions(sub, PosixFilePermissions.fromString("rwx--x---"))
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    val link = Files.createSymbolicLink(dir.resolve("abs_link"), file)
    val rel = Files.createSymbolicLink(dir.resolve("rel_link"), Paths.get("sub"))
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val stock = init(new RawLocalFileSystem)
    val nio = init(new NioRawLocalFileSystem)
    stock.setPermission(new Path(sticky.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    // unqualified paths: stock reads a link target through `new File(path.toString)`
    val paths = Seq(file, sub, sticky, link, rel, dangling).map(p => new Path(p.toString))
    for (p <- paths.filterNot(_.getName == "dangling"))
      assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
    for (p <- paths)
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    for (p <- paths.take(2)) assert(nio.listStatus(p).map(fields).toSeq.sortBy(_._1) ==
      stock.listStatus(p).map(fields).toSeq.sortBy(_._1), p)
    val dirList = nio.listStatus(new Path(dir.toString)).map(fields).toSeq.sortBy(_._1)
    assert(dirList == stock.listStatus(new Path(dir.toString)).map(fields).toSeq.sortBy(_._1))
    assert(dirList.size == 5) // both skip the dangling link, whose status throws
    // the fields really were read, not defaults on both sides
    val l = nio.getFileLinkStatus(paths(3))
    assert(l.isSymlink && l.getSymlink.toUri.getPath == file.toString)
    assert(nio.getFileLinkStatus(paths(4)).getSymlink == new Path(s"file:$dir/sub"))
    assert(nio.getFileStatus(paths(1)).getPermission.toString == "rwx--x---")
    assert(nio.getFileStatus(paths(2)).getPermission.getStickyBit)
    assert(nio.getFileStatus(paths(0)).getLen == 5 && nio.getFileStatus(paths(1)).isDirectory)
    val missing = new Path(dir.resolve("missing").toString)
    for (fs <- Seq(stock, nio)) {
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.listStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(paths(5)))
    }
  }

  test("the session's FileSystem creates stock modes and writes and verifies .crc sidecars") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    val root = Files.createTempDirectory("niofs_create")
    def write(fs: FileSystem, tag: String): java.nio.file.Path = {
      val f = new Path(s"$root/$tag/a/b/x.bin")
      assert(fs.mkdirs(f.getParent))
      val out = fs.create(f)
      try out.write(Array.fill[Byte](3000)(7)) finally out.close()
      Paths.get(f.toUri.getPath)
    }
    val ours = write(fs, "nio")
    val theirs = write(init(new LocalFileSystem), "stock")
    for ((a, b) <- Seq(ours -> theirs, ours.getParent -> theirs.getParent,
        ours.resolveSibling(".x.bin.crc") -> theirs.resolveSibling(".x.bin.crc")))
      assert(mode(a) == mode(b), a)
    val umask = FsPermission.getUMask(conf)
    assert(mode(ours) == FsPermission.getFileDefault.applyUMask(umask).toString)
    assert(mode(ours.getParent) == FsPermission.getDirDefault.applyUMask(umask).toString)
    assert(Files.size(ours.resolveSibling(".x.bin.crc")) ==
      Files.size(theirs.resolveSibling(".x.bin.crc")))
    // a flipped byte fails the read through the checksummed layer
    Files.write(ours, Array.fill[Byte](3000)(7).updated(1500, 8.toByte))
    val in = fs.open(new Path(ours.toString))
    try intercept[ChecksumException](in.readFully(new Array[Byte](3000))) finally in.close()
  }

  test("the session's FileContext is the checksummed NioLocalFs: create and overwriting rename keep sidecars") {
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs], fc.getDefaultFileSystem.getClass)
    val dir = Files.createTempDirectory("niofs_fc")
    def put(name: String, body: String): Path = {
      val p = new Path(s"$dir/$name")
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(body.getBytes) finally out.close()
      p
    }
    val src = put("tmp", "new")
    val dst = put("0", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("tmp")) && !Files.exists(dir.resolve(".tmp.crc")))
    assert(Files.exists(dir.resolve(".0.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes()) == "new") finally in.close()
    assert(fc.getFileStatus(dst).getPermission == fc.getFileLinkStatus(dst).getPermission)
  }
}
