package graft

import graft.stedi.StediFixtures.P3Feed
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The fork-free local filesystem: sessions from [[ClusterConfigs]] write a
  * streaming checkpoint without starting a process, and its two overrides
  * answer exactly as stock `RawLocalFileSystem` does. */
class InProcessLocalFsSpec extends SparkSpecBase {

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val inProcess = initialized(new InProcessRawLocalFileSystem)

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("a checkpointed P3 stream on a ClusterConfigs.local session starts no process") {
    val fc = FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.getClass == classOf[InProcessLocalFs])

    val root = Files.createTempDirectory("p3-forks")
    val feed = new P3Feed(root)
    val out = root.resolve("out").toString
    // Spark's process-tree metrics fork `getconf PAGESIZE` once per JVM, in
    // the first heartbeat after start-up; run that before recording starts
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    // the local profile's state store, pinned: RocksDB's every load and
    // commit forks `rm -rf` on a local working directory
    try withConf(StateStoreProvider ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider") {
      val q = feed.stream(spark).writeStream.format("text")
        .option("path", out)
        .option("checkpointLocation", root.resolve("chk").toString)
        .start()
      try (0 until 3).foreach { b => feed.release(b); q.processAllAvailable() }
      finally q.stop()
    } finally recording.stop()
    val dump = root.resolve("forks.jfr")
    recording.dump(dump)
    recording.close()

    // A `java.lang.ref.Cleaner` thread `rm -rf`s the artifact directory of
    // each session that earlier specs' queries dropped, whenever a GC finds
    // one; those starts are on no thread of this stream
    def onCleaner(e: RecordedEvent) = e.getStackTrace.getFrames.asScala
      .exists(_.getMethod.getType.getName == "jdk.internal.ref.CleanerImpl")
    val forks = RecordingFile.readAllEvents(dump).asScala.filterNot(onCleaner).map { e =>
      val frames = e.getStackTrace.getFrames.asScala.take(8)
      s"${e.getString("command")} from " +
        frames.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < ")
    }
    assert(forks.isEmpty, s"${forks.size} process starts, e.g. ${forks.take(5).mkString("; ")}")
    assert(spark.read.text(out).count() == feed.batch(spark).count())
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime,
      s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus matches stock for files, directories, symlinks and missing paths") {
    val dir = Files.createTempDirectory("link-status")
    val file = Files.write(dir.resolve("file.txt"), "payload".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("abs-link"), file)
    Files.createSymbolicLink(dir.resolve("rel-link"), Paths.get("file.txt"))
    Files.createSymbolicLink(dir.resolve("dir-link"), Paths.get("sub"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))

    // stock reads the link of `path.toString`, so only the unqualified form
    // of a path is ever reported as a symlink; both forms must agree
    def forms(name: String) =
      Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri))
    def outcome(fs: RawLocalFileSystem, p: Path) =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: FileNotFoundException => Left(e.getMessage) }
    for (name <- Seq("file.txt", "sub", "abs-link", "rel-link", "dir-link", "dangling", "missing");
         p <- forms(name))
      assert(outcome(inProcess, p) == outcome(stock, p), p)

    val rel = inProcess.getFileLinkStatus(new Path(dir.resolve("rel-link").toString))
    assert(rel.isSymlink && rel.getSymlink.toUri.getPath == file.toString)
    val dangling = inProcess.getFileLinkStatus(new Path(dir.resolve("dangling").toString))
    assert(dangling.isSymlink && dangling.getLen == 0)
    assert(forms("missing").forall(outcome(inProcess, _).isLeft))
  }

  test("setPermission leaves the same mode bits as stock chmod") {
    val dir = Files.createTempDirectory("chmod")
    var n = 0
    def twins(directory: Boolean): (JPath, JPath) = {
      n += 1
      def make(side: String) = {
        val p = dir.resolve(s"$side-$n")
        if (directory) Files.createDirectory(p) else Files.write(p, Array[Byte](1))
      }
      (make("stock"), make("in-process"))
    }
    def chmodBoth(ps: (JPath, JPath), m: Int): Unit = {
      stock.setPermission(new Path(ps._1.toString), new FsPermission(m.toShort))
      inProcess.setPermission(new Path(ps._2.toString), new FsPermission(m.toShort))
    }
    for (directory <- Seq(false, true); m <- Seq("0644", "0755", "0700", "1777").map(oct)) {
      val ps = twins(directory)
      chmodBoth(ps, m)
      assert(mode(ps._2) == mode(ps._1), s"mode ${m.toOctalString}, directory=$directory")
      assert((mode(ps._2) & oct("7777")) == m)
    }
    // a 4-digit chmod keeps a directory's setgid bit, so the fallback must too
    val setgid = twins(directory = true)
    Seq(setgid._1, setgid._2).foreach { p =>
      assert(new ProcessBuilder("chmod", "2775", p.toString).start().waitFor() == 0)
    }
    chmodBoth(setgid, oct("0755"))
    assert(mode(setgid._2) == mode(setgid._1))
    assert((mode(setgid._2) & oct("7777")) == oct("2755"))
  }
}
