package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.compile.Compiler
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  FileAlreadyExistsException, FileContext, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** The `file://` shim that [[LocalConf]] wires: [[GraftLocalFileSystem]]
  * and its FileContext face [[GraftLocalFs]]. Link lookups and renames
  * must answer what stock Hadoop answers, and the engine's streaming and
  * batch sinks must start no process through `org.apache.hadoop.fs`. */
class LocalFsSpec extends SparkSpec {

  private def fresh[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }

  /** A regular file, a directory, a missing path, a symlink to the file
    * and a dangling symlink, in a fresh directory. */
  private def fixture(): (NioPath, Seq[String]) = {
    val dir = Files.createTempDirectory("graft_localfs")
    Files.writeString(dir.resolve("file"), "twelve bytes")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    (dir, Seq("file", "dir", "missing", "link", "dangling"))
  }

  /** What a lookup answers: the status fields callers read, or the
    * exception class. */
  private def answer(fs: RawLocalFileSystem, p: Path) =
    Try(fs.getFileLinkStatus(p)).map { st =>
      (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink) else None)
    }.toEither.left.map(_.getClass)

  test("getFileLinkStatus matches stock RawLocalFileSystem on files, dirs, links") {
    val (dir, names) = fixture()
    val graft = fresh(new GraftLocalFileSystem())
    val stock = fresh(new RawLocalFileSystem())
    // Both path forms: stock Hadoop runs `readlink` on `Path.toString`, so
    // it only sees a link behind a bare path; a `file:` one (what Spark
    // passes) reads as the link's target, or as missing when it dangles.
    def forms(n: String) = Seq(new Path(dir.resolve(n).toString), new Path(dir.resolve(n).toUri))
    for (n <- names; p <- forms(n))
      assert(answer(graft, p) == answer(stock, p), p)
    forms("missing").foreach(p =>
      assert(answer(graft, p) == Left(classOf[FileNotFoundException]), p))
    Seq("link", "dangling").foreach(n =>
      assert(answer(graft, forms(n).head).exists(_._4), s"$n is a symlink"))
  }

  test("FileContext.rename over GraftLocalFs matches the stock file binding") {
    val graftConf = new Configuration()
    graftConf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    def outcome(conf: Configuration): Seq[Any] = {
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val dir = Files.createTempDirectory("graft_rename")
      def put(n: String, body: String): Path = {
        Files.writeString(dir.resolve(n), body); new Path(dir.resolve(n).toUri)
      }
      val (src, dst) = (put("src", "new"), put("dst", "old"))
      // Rename.NONE onto an existing destination refuses
      val refused = Try(fc.rename(src, dst, Options.Rename.NONE)).failed.toOption
      assert(refused.exists(_.isInstanceOf[FileAlreadyExistsException]))
      // Rename.OVERWRITE replaces it
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      // and a plain rename onto a missing destination moves the file
      val moved = new Path(dir.resolve("moved").toUri)
      fc.rename(dst, moved)
      Seq(refused.map(_.getClass), Files.exists(dir.resolve("src")),
        Files.exists(dir.resolve("dst")), Files.readString(dir.resolve("moved")))
    }
    val got = outcome(graftConf)
    assert(got == outcome(new Configuration()))
    assert(got.last == "new")
  }

  test("a checkpointed config stream and a range_by re-layout fork no process in hadoop.fs") {
    val base = Files.createTempDirectory("graft_nofork")
    val (stage, land, chk, lay) =
      (s"$base/stage", s"$base/land", s"$base/checkpoint", s"$base/relayout")
    // three event-time slices, one file each, so the stream runs 3 batches
    Tables.load(spark, sf, "events").repartitionByRange(3, col("ts"))
      .write.parquet(stage)
    val streamJson = s"""
      {"id": "nofork_land",
       "source": {"format": "parquet", "path": "$stage",
                  "options": {"maxFilesPerTrigger": "1"}},
       "derive": {"event_date": "to_date(ts)"},
       "watermark": {"col": "ts", "delay": "10 minutes"},
       "dedup": {"keys": ["event_id"], "within_watermark": true},
       "save": {"path": "$land", "format": "parquet", "mode": "append",
                "partition_by": ["event_date"], "output_mode": "append",
                "trigger": "available_now", "checkpoint": "$chk"}}"""
    val relayoutJson = s"""
      {"source": {"format": "parquet", "path": "$land"},
       "save": {"path": "$lay", "format": "parquet", "mode": "overwrite",
                "range_by": ["user_id"], "ranges": 2}}"""

    // Only stacks through org.apache.hadoop.fs count: Spark's async
    // artifact cleanup forks `rm -rf` on its Cleaner thread.
    val forks = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart").withStackTrace()
    rs.onEvent("jdk.ProcessStart", e => {
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq)
        .getOrElse(Nil).map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      if (frames.exists(_.startsWith("org.apache.hadoop.fs.")))
        forks.add((e.getString("command") +:
          frames.dropWhile(_.startsWith("java.")).take(10)).mkString("\n    "))
    })
    rs.onFlush(() => { flushes.incrementAndGet(); () })
    rs.startAsync()
    val batches = try {
      val q = Compiler.compileStreamJson(spark, streamJson)
      q.awaitTermination()
      Compiler.compileJson(spark, relayoutJson)
      q.recentProgress.count(_.numInputRows > 0)
    } finally {
      // drain: two flushes after the work cover every event it emitted
      val seen = flushes.get()
      val until = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (flushes.get() < seen + 2 && System.nanoTime() < until) Thread.sleep(50)
      rs.close()
    }
    assert(flushes.get() > 0, "the recording stream never flushed")
    assert(batches == 3)
    val landed = spark.read.parquet(land)
    assert(landed.count() == landed.select("event_id").distinct().count())
    assert(spark.read.parquet(lay).count() == landed.count())
    // the checkpoint still carries Spark's state-store checksum files
    assert(Files.walk(Paths.get(s"$chk/state")).iterator().asScala
      .exists(_.toString.endsWith(".delta.crc")))
    val n = forks.size
    assert(n == 0, s"$n process starts through org.apache.hadoop.fs, first " +
      s"${math.min(5, n)}:\n  " + forks.asScala.take(5).mkString("\n  "))
  }
}
