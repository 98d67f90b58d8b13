package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.similarity.SimilarityQueries
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the `file://` binding of [[LocalFs]]: every Hadoop configuration
  * resolves the scheme to the graft classes, the engine's index writes
  * and streaming checkpoints start no process, and files, directories,
  * `.crc` sidecars and links look exactly as Hadoop's stock local
  * filesystem leaves them.
  */
class LocalFsSpec extends SparkSuite {

  private val Root = new URI("file:///")

  private def tmp(name: String): JPath = Files.createTempDirectory(name)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def confWith(umask: String, kv: (String, String)*): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    kv.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A fresh, uncached FileSystem of `cls` for `file://`. */
  private def fsOf(cls: String, umask: String): FileSystem =
    FileSystem.newInstance(Root, confWith(umask, "fs.file.impl" -> cls))

  private val StockFs = "org.apache.hadoop.fs.LocalFileSystem"
  private val StockFc = "org.apache.hadoop.fs.local.LocalFs"
  private val NioFs = classOf[NioLocalFileSystem].getName

  /** The `jdk.ProcessStart` events recorded while `body` runs, as
    * "command <- first Spark, Hadoop or graft frame". Forks on a
    * `java.lang.ref.Cleaner` thread are left out: they clean up sessions
    * the GC found unreachable (Spark's ArtifactManager `rm -rf`s a
    * collected session's artifact directory), whenever the GC runs. */
  private def forksOf(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val out = Files.createTempFile("graft_localfs_forks", ".jfr")
    try {
      r.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.flatMap { ev =>
        val frames = ev.getStackTrace.getFrames.asScala
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        val caller =
          frames.find(_.matches("(graft|org[.]apache[.](spark|hadoop))[.].*"))
        if (frames.exists(_.startsWith("jdk.internal.ref.CleanerImpl"))) None
        else Some(s"${ev.getString("command")} <- ${caller.getOrElse("?")}")
      }
    } finally { r.close(); Files.deleteIfExists(out) }
  }

  test("file:// resolves to the graft classes for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[RawNioFileSystem])
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem
      .isInstanceOf[LocalFs])
    // a plain Configuration, as Spark's own helpers build them
    assert(FileSystem.get(Root, new Configuration())
      .isInstanceOf[NioLocalFileSystem])
  }

  test("an IVF upsert+delete and a streaming row start no process") {
    val dir = sf("sf0.001")
    val e = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val idx = tmp("graft_localfs_ivf").toString + "/idx"
    SimilarityQueries.writeIvfIndex(spark, e,
      SimilarityQueries.trainIvfCentroids(e, SimilarityQueries.GateK), idx)
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collectAsList(), df.schema)
    val up = local(e.filter(col("vec_id") % 10 === 1)
      .withColumn("vec_id", col("vec_id") + lit(1000000L)))
    val del = local(e.filter(col("vec_id") % 10 === 3).select(col("vec_id")))
    // Spark's executor metrics read the page size once per JVM (`getconf
    // PAGESIZE`) at the first heartbeat, on a timer; load them first so
    // the recording holds only the operations' own processes
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val forks = forksOf {
      SimilarityQueries.upsertIvfIndex(spark, idx, up)
      assert(SimilarityQueries.deleteFromIvfIndex(spark, idx, del).nonEmpty)
      assert(graft.QueryRegistry.byName("ev_stream_hourly").run(spark, dir)
        .count() > 0)
    }
    assert(forks.isEmpty,
      s"${forks.size} processes started, e.g. ${forks.distinct.take(3)}")
  }

  for (umask <- Seq("022", "077")) {
    test(s"files, dirs and .crc sidecars carry stock modes under umask $umask") {
      val (stock, nio) = (fsOf(StockFs, umask), fsOf(NioFs, umask))
      assert(nio.isInstanceOf[NioLocalFileSystem] && !stock.isInstanceOf[NioLocalFileSystem])
      val base = tmp("graft_localfs_modes")
      def write(fs: FileSystem, side: String): JPath = {
        val d = base.resolve(side)
        val f = new Path(d.resolve("a/b/part-0").toUri)
        val out = fs.create(f)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        assert(fs.mkdirs(new Path(d.resolve("c/d").toUri)))
        d
      }
      val (s, n) = (write(stock, "stock"), write(nio, "nio"))
      for (rel <- Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc", "c", "c/d"))
        assert(mode(n.resolve(rel)) == mode(s.resolve(rel)),
          f"$rel: ${mode(n.resolve(rel))}%o vs stock ${mode(s.resolve(rel))}%o")
      assert(mode(n.resolve("a/b/part-0")) == (0x1b6 & ~Integer.parseInt(umask, 8)))
      // the sidecar verifies on read
      val in = nio.open(new Path(n.resolve("a/b/part-0").toUri))
      try assert(in.read() == 1) finally in.close()

      // FileContext, the streaming checkpoints' path
      def fcWrite(impl: String, side: String): JPath = {
        val fc = FileContext.getFileContext(Root,
          confWith(umask, "fs.AbstractFileSystem.file.impl" -> impl))
        val d = base.resolve(side)
        val f = new Path(d.resolve("ckpt/offsets/0").toUri)
        val out = fc.create(f, java.util.EnumSet.of(CreateFlag.CREATE),
          org.apache.hadoop.fs.Options.CreateOpts.createParent())
        try out.write(7) finally out.close()
        fc.rename(f, new Path(d.resolve("ckpt/offsets/1").toUri))
        d
      }
      val (fs0, fn) = (fcWrite(StockFc, "fc_stock"),
        fcWrite(classOf[LocalFs].getName, "fc_nio"))
      for (rel <- Seq("ckpt", "ckpt/offsets", "ckpt/offsets/1",
          "ckpt/offsets/.1.crc")) {
        assert(Files.exists(fn.resolve(rel)), s"$rel missing")
        assert(mode(fn.resolve(rel)) == mode(fs0.resolve(rel)), rel)
      }
      assert(!Files.exists(fn.resolve("ckpt/offsets/0")))
      stock.close(); nio.close()
    }
  }

  test("a sticky-bit mode still applies") {
    val nio = fsOf(NioFs, "022")
    val d = tmp("graft_localfs_sticky").resolve("shared")
    assert(nio.mkdirs(new Path(d.toUri)))
    nio.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(d) == Integer.parseInt("1777", 8), f"${mode(d)}%o")
    nio.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
    assert(mode(d) == Integer.parseInt("750", 8), f"${mode(d)}%o")
    nio.close()
  }

  test("a real symlink still reads as a link; a file does not") {
    val (stock, nio) = (fsOf(StockFs, "022"), fsOf(NioFs, "022"))
    val d = tmp("graft_localfs_link")
    val target = Files.write(d.resolve("target"), Array[Byte](1, 2))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    for (fs <- Seq(stock, nio)) {
      val l = fs.getFileLinkStatus(new Path(link.toString))
      assert(l.isSymlink, s"${fs.getClass.getName}: link not seen")
      assert(l.getSymlink.toUri.getPath == target.toString)
      val f = fs.getFileLinkStatus(new Path(target.toUri))
      assert(!f.isSymlink && f.getLen == 2)
    }
    stock.close(); nio.close()
  }
}
