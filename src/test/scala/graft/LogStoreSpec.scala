package graft

import java.net.URI
import java.util.concurrent.CyclicBarrier

import org.apache.hadoop.fs.{FileSystem, FileUtil, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.core.{LogStore, TxTable}
import graft.streaming.EventsStream

/** A simulated OBJECT-STORE filesystem: rename is COPY + DELETE (the
  * S3A shape — never atomic, silently replaces an existing
  * destination), while create-exclusive IS atomic (NIO `CREATE_NEW`,
  * the conditional-put primitive S3/GCS/ABFS expose). Registered as
  * `nonatomic://` so whole TxTable batteries can run on it. */
class NonAtomicRenameFs extends graft.core.NioRawLocalFileSystem {
  override def getScheme: String = "nonatomic"
  // no field: the superclass constructor calls getUri before Scala
  // field initializers run
  override def getUri: URI = URI.create("nonatomic:///")

  /** Copy + delete with an injectable pause between the copy and the
    * visibility of success — two racers interleave freely, and the
    * copy REPLACES an existing destination (posix `cp` semantics). */
  override def rename(src: Path, dst: Path): Boolean = {
    NonAtomicRenameFs.renamePause.get().foreach(_.await())
    val ok = FileUtil.copy(this, src, this, dst, false, true, getConf)
    if (ok) { delete(src, true); () } // recursive: dirs rename too
    ok
  }

  /** Object-store PUT semantics: every write buffers and materializes
    * ATOMICALLY at close — readers see the whole object or nothing
    * (S3/GCS visibility). `overwrite=false` is the conditional put
    * (NIO `CREATE_NEW` hard-link claim, one winner cross-process);
    * `overwrite=true` is a plain PUT (atomic replace). Both create
    * variants override (the permissionless 6-arg one is the actual
    * call path from `FileSystem.create(f, overwrite)`). */
  private def atomicPut(f: Path, exclusive: Boolean): FSDataOutputStream = {
    val local = pathToFile(f).toPath
    java.nio.file.Files.createDirectories(local.getParent)
    if (exclusive && java.nio.file.Files.exists(local))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"$f already exists") // fast-fail; the real claim is at close
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.OutputStream {
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = {
        val tmp = local.resolveSibling(
          s".inflight-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.write(tmp, buf.toByteArray)
        try {
          if (exclusive)
            try java.nio.file.Files.createLink(local, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                  s"$f already exists")
            }
          else
            java.nio.file.Files.move(tmp, local,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally { java.nio.file.Files.deleteIfExists(tmp); () }
      }
    }
    new FSDataOutputStream(out, null)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream = atomicPut(f, exclusive = !overwrite)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    atomicPut(f, exclusive = !overwrite)
}

object NonAtomicRenameFs {
  /** Test hook: a barrier every rename awaits before copying. */
  val renamePause = new java.util.concurrent.atomic.AtomicReference[Option[CyclicBarrier]](None)
}

/** The commit-publish seam ([[graft.core.LogStore]]): the naive
  * exists+rename protocol double-claims on object-store semantics;
  * every shipped store is single-winner under the same race; whole
  * TxTable batteries run on the simulated store end-to-end. */
class LogStoreSpec extends SparkSpec {

  private def scratch(tag: String): String =
    EventsStream.scratchDir(s"logstore_$tag")

  private def nonAtomicFs(): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nonatomic.impl", classOf[NonAtomicRenameFs].getName)
    conf.set("fs.AbstractFileSystem.nonatomic.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    FileSystem.get(URI.create("nonatomic:///"), conf)
  }

  /** Race `op` from two threads through a start barrier; returns the
    * number that claimed victory. */
  private def race2(op: () => Boolean): Int = {
    val start = new CyclicBarrier(2)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (1 to 2).map(_ => new Thread(() => {
      start.await()
      if (op()) { wins.incrementAndGet(); () }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    wins.get()
  }

  test("the hazard is real: naive exists+rename double-claims on copy+delete rename") {
    val fs = nonAtomicFs()
    val dir = new Path(scratch("hazard"))
    fs.mkdirs(dir)
    var doubles = 0
    for (i <- 0 until 20) {
      val dst = new Path(dir, s"v$i.json")
      val tmps = (1 to 2).map { w =>
        val t = new Path(dir, s".tmp-$i-$w")
        val out = fs.create(t, true)
        out.write(s"writer$w".getBytes); out.close(); t
      }
      // both racers pass the exists check, then both rename: the
      // copy+delete rename replaces — BOTH report success
      val pause = new CyclicBarrier(2)
      NonAtomicRenameFs.renamePause.set(Some(pause))
      val idx = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = try race2 { () =>
        val t = tmps(idx.getAndIncrement())
        !fs.exists(dst) && fs.rename(t, dst)
      } finally NonAtomicRenameFs.renamePause.set(None)
      if (wins == 2) doubles += 1
    }
    assert(doubles > 0,
      "expected at least one double-claim from naive exists+rename on " +
        "a copy+delete substrate (the reason the LogStore seam exists)")
  }

  test("HardLink store: exactly one winner under the same race, on every round") {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .getRawFileSystem
    val dir = new Path(scratch("hardlink"))
    fs.mkdirs(dir)
    for (i <- 0 until 50) {
      val dst = new Path(dir, s"v$i.json")
      val tmps = (1 to 2).map { w =>
        val t = new Path(dir, s".tmp-$i-$w")
        val out = fs.create(t, true); out.write(s"w$w".getBytes); out.close(); t
      }
      val idx = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = race2 { () =>
        LogStore.HardLink.putIfAbsent(fs, tmps(idx.getAndIncrement()), dst, "k")
      }
      assert(wins == 1, s"round $i: $wins winners")
      assert(fs.exists(dst))
    }
  }

  test("ConditionalPut store: single winner via atomic create-exclusive; content complete") {
    val fs = nonAtomicFs()
    val dir = new Path(scratch("condput"))
    fs.mkdirs(dir)
    for (i <- 0 until 50) {
      val dst = new Path(dir, s"v$i.json")
      val tmps = (1 to 2).map { w =>
        val t = new Path(dir, s".tmp-$i-$w")
        val out = fs.create(t, true)
        out.write(s"""{"writer":$w}""".getBytes); out.close(); t
      }
      val idx = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = race2 { () =>
        LogStore.ConditionalPut.putIfAbsent(fs, tmps(idx.getAndIncrement()), dst, "k")
      }
      assert(wins == 1, s"round $i: $wins winners")
      val in = fs.open(dst)
      val s = try org.apache.commons.io.IOUtils.toString(in,
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      assert(s.startsWith("""{"writer":"""), s"truncated/mixed content: $s")
    }
  }

  test("LockFile store: single winner despite non-atomic rename; stale locks break") {
    val fs = nonAtomicFs()
    val dir = new Path(scratch("lockfile"))
    fs.mkdirs(dir)
    val store = LogStore.LockFile(staleLockMs = 60000L)
    for (i <- 0 until 30) {
      val dst = new Path(dir, s"v$i.json")
      val tmps = (1 to 2).map { w =>
        val t = new Path(dir, s".tmp-$i-$w")
        val out = fs.create(t, true); out.write(s"w$w".getBytes); out.close(); t
      }
      val idx = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = race2 { () =>
        store.putIfAbsent(fs, tmps(idx.getAndIncrement()), dst, "k")
      }
      assert(wins == 1, s"round $i: $wins winners")
    }
    // fencing: a lock left by a dead writer (old mtime) is broken and
    // the commit proceeds
    val dst = new Path(dir, "vstale.json")
    val lock = new Path(dir, s".${dst.getName}.lock")
    val out = fs.create(lock, true); out.write("dead".getBytes); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600_000L, -1)
    val tmp = new Path(dir, ".tmp-stale")
    val o2 = fs.create(tmp, true); o2.write("alive".getBytes); o2.close()
    assert(LogStore.LockFile(staleLockMs = 1000L).putIfAbsent(fs, tmp, dst, "k"))
    assert(fs.exists(dst) && !fs.exists(lock))
  }

  test("LockFile store: a crashed writer's FRESH lock is waited out within one putIfAbsent") {
    // the acquire loop must be bounded by ELAPSED TIME vs staleLockMs,
    // not a fixed attempt budget: a lock whose holder died 0 ms ago
    // only becomes breakable after staleLockMs, so a single call must
    // be able to wait that long (the old 100×20ms ≈ 2 s budget errored
    // out before a 3 s stale threshold could ever age the lock out)
    val fs = nonAtomicFs()
    val dir = new Path(scratch("lockwait"))
    fs.mkdirs(dir)
    val dst = new Path(dir, "vwait.json")
    val lock = new Path(dir, s".${dst.getName}.lock")
    val out = fs.create(lock, true); out.write("dead-now".getBytes); out.close()
    fs.setTimes(lock, System.currentTimeMillis(), -1) // died JUST now
    val tmp = new Path(dir, ".tmp-wait")
    val o2 = fs.create(tmp, true); o2.write("alive".getBytes); o2.close()
    val t0 = System.currentTimeMillis()
    assert(LogStore.LockFile(staleLockMs = 3000L).putIfAbsent(fs, tmp, dst, "k"),
      "the commit must succeed by waiting out + breaking the stale lock")
    val waited = System.currentTimeMillis() - t0
    assert(waited >= 2500L, s"must actually wait out staleLockMs, waited ${waited}ms")
    assert(fs.exists(dst) && !fs.exists(lock))
  }

  test("ConditionalPut: a lost race surfacing as a GENERIC IOException never deletes the winner") {
    // claim-at-close stores can report a lost race as a plain network
    // IOException; deleting dst then would destroy the racing winner's
    // published manifest. The store must re-read dst and, finding a
    // complete foreign object, report a lost race with dst untouched.
    val winnerBytes = """{"writer":"winner"}""".getBytes
    val fs = new RawLocalFileSystem() {
      private def lostRaceStream(f: Path): FSDataOutputStream = {
        val local = pathToFile(f).toPath
        new FSDataOutputStream(new java.io.OutputStream {
          override def write(b: Int): Unit = ()
          override def write(b: Array[Byte], o: Int, l: Int): Unit = ()
          override def close(): Unit = {
            // the winner's object lands; OUR put errors generically
            java.nio.file.Files.write(local, winnerBytes)
            throw new java.io.IOException("connection reset by peer")
          }
        }, null)
      }
      override def create(f: Path, overwrite: Boolean, bufferSize: Int,
          replication: Short, blockSize: Long, progress: Progressable)
          : FSDataOutputStream =
        if (!overwrite && f.getName == "vrace.json") lostRaceStream(f)
        else super.create(f, overwrite, bufferSize, replication, blockSize,
          progress)
      override def create(f: Path, permission: FsPermission, overwrite: Boolean,
          bufferSize: Int, replication: Short, blockSize: Long,
          progress: Progressable): FSDataOutputStream =
        if (!overwrite && f.getName == "vrace.json") lostRaceStream(f)
        else super.create(f, permission, overwrite, bufferSize,
          replication, blockSize, progress)
    }
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(scratch("condput_lostrace"))
    fs.mkdirs(dir)
    val dst = new Path(dir, "vrace.json")
    val tmp = new Path(dir, ".tmp-race")
    val out = fs.create(tmp, true)
    out.write("""{"writer":"us","payload":"much longer than the winner's"}"""
      .getBytes); out.close()
    assert(!LogStore.ConditionalPut.putIfAbsent(fs, tmp, dst, "k"),
      "a foreign complete object at dst is a LOST RACE, not our failure")
    val in = fs.open(dst)
    val s = try org.apache.commons.io.IOUtils.toString(in,
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    assert(s == """{"writer":"winner"}""",
      s"the winner's manifest must survive untouched, got: $s")
  }

  test("ConditionalPut: OUR demonstrable partial write is cleaned up and the error propagates") {
    val fs = new RawLocalFileSystem() {
      private def partialStream(f: Path): FSDataOutputStream = {
        val local = pathToFile(f).toPath
        val buf = new java.io.ByteArrayOutputStream()
        new FSDataOutputStream(new java.io.OutputStream {
          override def write(b: Int): Unit = buf.write(b)
          override def write(b: Array[Byte], o: Int, l: Int): Unit =
            buf.write(b, o, l)
          override def close(): Unit = {
            val all = buf.toByteArray
            // disk-full shape: only half our bytes land, then error
            java.nio.file.Files.write(local,
              java.util.Arrays.copyOfRange(all, 0, all.length / 2))
            throw new java.io.IOException("no space left on device")
          }
        }, null)
      }
      override def create(f: Path, overwrite: Boolean, bufferSize: Int,
          replication: Short, blockSize: Long, progress: Progressable)
          : FSDataOutputStream =
        if (!overwrite && f.getName == "vpartial.json") partialStream(f)
        else super.create(f, overwrite, bufferSize, replication, blockSize,
          progress)
      override def create(f: Path, permission: FsPermission, overwrite: Boolean,
          bufferSize: Int, replication: Short, blockSize: Long,
          progress: Progressable): FSDataOutputStream =
        if (!overwrite && f.getName == "vpartial.json") partialStream(f)
        else super.create(f, permission, overwrite, bufferSize,
          replication, blockSize, progress)
    }
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(scratch("condput_partial"))
    fs.mkdirs(dir)
    val dst = new Path(dir, "vpartial.json")
    val tmp = new Path(dir, ".tmp-partial")
    val out = fs.create(tmp, true)
    out.write("""{"writer":"us","v":1}""".getBytes); out.close()
    val e = intercept[java.io.IOException] {
      LogStore.ConditionalPut.putIfAbsent(fs, tmp, dst, "k")
    }
    assert(e.getMessage.contains("no space left"), e.getMessage)
    assert(!fs.exists(dst),
      "a truncated manifest that is provably OURS must not poison replay")
  }

  test("TxTable battery on the simulated object store (lockfile): 8 racing appenders, serialized versions, zero lost commits") {
    import spark.implicits._
    val root = s"nonatomic://${scratch("tx_lockfile")}/t"
    nonAtomicFs() // registers the scheme impl in the shared hadoop conf
    val t = TxTable(spark, root)
    t.overwrite(Seq((0L, "seed")).toDF("k", "name"))
    t.setProperties(Map(TxTable.PropLogStore -> "lockfile"))
    val v0 = t.latestVersion.get
    val threads = (1 to 8).map { w =>
      new Thread(() => {
        val h = TxTable(spark, root)
        h.append(Seq((w.toLong, s"writer_$w")).toDF("k", "name"))
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val h = TxTable(spark, root)
    assert(h.latestVersion.get == v0 + 8,
      s"8 appends must land 8 serialized commits, latest=${h.latestVersion}")
    val ks = h.read().select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == (0L to 8L).toSeq, s"lost commit: $ks")
  }

  test("TxTable battery on the simulated object store (conditionalput): reads + DML intact") {
    import spark.implicits._
    val root = s"nonatomic://${scratch("tx_condput")}/t"
    nonAtomicFs()
    val t = TxTable(spark, root)
    t.overwrite((0 until 100).map(i => (i.toLong, i % 5)).toDF("k", "grp"))
    t.setProperties(Map(TxTable.PropLogStore -> "conditionalput"))
    t.append((100 until 120).map(i => (i.toLong, i % 5)).toDF("k", "grp"))
    t.deleteWhere(org.apache.spark.sql.functions.col("grp") === 3)
    val h = TxTable(spark, root)
    assert(h.read().count() == (0 until 120).count(_ % 5 != 3))
    assert(h.readVersion(h.latestVersion.get - 1).count() == 120)
  }

  test("graft.logStore property: unknown value refuses with the menu") {
    import spark.implicits._
    val root = scratch("badstore") + "/t"
    val t = TxTable(spark, root)
    t.overwrite(Seq((1L, "a")).toDF("k", "name"))
    t.setProperties(Map(TxTable.PropLogStore -> "dynamodb"))
    val e = intercept[RuntimeException] {
      t.append(Seq((2L, "b")).toDF("k", "name"))
    }
    assert(e.getMessage.contains("unknown graft.logStore"), e.getMessage)
  }
}
