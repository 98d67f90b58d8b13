package graft.core

import graft.SparkSuite
import org.apache.hadoop.fs.Path

/** Pins [[IndexDirs.publish]]'s atomic-publish contract on the local
  * FS, including the r11-advice lost-race branch: Hadoop's
  * RawLocalFileSystem.rename falls back to FileUtil.copy onto an
  * EXISTING destination directory (nesting the source inside it and
  * returning true), so a loser that blindly renamed would strand a
  * full duplicate index at `target/.build_<nonce>/` forever. The
  * pre-rename `_built` re-check makes the loser delete its temp
  * instead.
  */
class IndexDirsSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_indexdirs_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("publish builds once and is idempotent") {
    val root = freshRoot("p")
    val idx  = s"$root/fam_gen1"
    var builds = 0
    def pub(): String = IndexDirs.publish(conf, idx, "fam_") { tmp =>
      builds += 1
      val fs = new Path(tmp).getFileSystem(conf)
      fs.create(new Path(tmp, "data"), true).close()
    }
    assert(pub() == idx && builds == 1)
    assert(pub() == idx && builds == 1, "second publish rebuilt")
    val fs = new Path(idx).getFileSystem(conf)
    assert(fs.exists(new Path(idx, "_built")))
    assert(fs.exists(new Path(idx, "data")))
  }

  test("a new generation garbage-collects the previous one") {
    val root = freshRoot("g")
    val fs   = new Path(root).getFileSystem(conf)
    def gen(n: Int): String =
      IndexDirs.publish(conf, s"$root/fam_gen$n", "fam_") { tmp =>
        fs.create(new Path(tmp, "data"), true).close()
      }
    gen(1); gen(2)
    assert(!fs.exists(new Path(s"$root/fam_gen1")), "stale generation kept")
    assert(fs.exists(new Path(s"$root/fam_gen2/_built")))
  }

  test("a lost publish race deletes the loser's temp — no nested copy") {
    val root = freshRoot("r")
    val idx  = s"$root/fam_gen1"
    val fs   = new Path(idx).getFileSystem(conf)
    // the build function simulates a concurrent winner completing its
    // publish while this builder is still writing: by the time this
    // builder is ready to rename, the target already exists with a
    // _built marker
    IndexDirs.publish(conf, idx, "fam_") { tmp =>
      fs.create(new Path(tmp, "loser_data"), true).close()
      fs.mkdirs(new Path(idx))
      fs.create(new Path(idx, "winner_data"), true).close()
      fs.create(new Path(idx, "_built"), true).close()
    }
    assert(fs.exists(new Path(idx, "winner_data")), "winner's copy lost")
    assert(!fs.exists(new Path(idx, "loser_data")),
      "loser's files overwrote or merged into the winner's publish")
    // the RawLocalFileSystem rename fallback would have NESTED the
    // loser's whole temp inside the target — assert nothing did
    val nested = fs.listStatus(new Path(idx))
      .map(_.getPath.getName).filter(_.contains(".build_"))
    assert(nested.isEmpty, s"loser's temp nested inside the target: " +
      nested.mkString(","))
    // and the loser's sibling temp itself is gone
    val stray = fs.listStatus(new Path(root))
      .map(_.getPath.getName).filter(_.contains(".build_"))
    assert(stray.isEmpty, s"loser's temp directory leaked: " +
      stray.mkString(","))
  }

  /** A temp source directory holding `src.bin` of `bytes` bytes — a new
    * length is a new fingerprint whatever the mtime resolution.
    */
  private def writeSource(dir: String, bytes: Int): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "src.bin"),
      Array.fill[Byte](bytes)(1))

  private def touchData(tmp: String): Unit = {
    val fs = new Path(tmp).getFileSystem(conf)
    fs.create(new Path(tmp, "data"), true).close()
  }

  test("rewriting the source names a new generation; publishing it GCs the old one") {
    val dir = freshRoot("src_gen")
    val fs  = new Path(dir).getFileSystem(conf)
    val fam = "graft_indexdirs_spec_gen"
    def pub(): String =
      IndexDirs.publishCurrent(conf, dir, "src.bin", fam)(touchData)
    writeSource(dir, 10)
    val g1 = pub()
    // the naming rule: <family>_<slug>_<hex hash>_fp<len>_<mtime>
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").takeRight(40)
    val hex  = java.lang.Integer.toHexString(dir.hashCode)
    assert(new Path(g1).getName.matches(
      s"${fam}_${java.util.regex.Pattern.quote(slug)}_${hex}_fp10_[0-9]+"),
      s"generation name off the rule: $g1")
    assert(g1 == IndexDirs.generation(conf, dir, "src.bin", fam).path)
    assert(pub() == g1, "an unchanged source republished")
    writeSource(dir, 20)
    val g2 = pub()
    try {
      assert(g2 != g1 && new Path(g2).getName.contains("_fp20_"))
      assert(fs.exists(new Path(g2, "_built")))
      assert(!fs.exists(new Path(g1)), "the previous generation survived")
    } finally fs.delete(new Path(g2), true)
  }

  test("a family and its same-source variants never GC each other") {
    val dir = freshRoot("src_var")
    val fs  = new Path(dir).getFileSystem(conf)
    val fam = "graft_indexdirs_spec_var"
    def pub(variant: String): String =
      IndexDirs.publishCurrent(conf, dir, "src.bin", fam, variant)(touchData)
    def live(p: String): Boolean = fs.exists(new Path(p, "_built"))
    writeSource(dir, 10)
    val base1 = pub(""); val k2 = pub("_k2"); val k23a = pub("_k23")
    assert(Seq(base1, k2, k23a).forall(live) && Seq(base1, k2, k23a).distinct.size == 3)
    writeSource(dir, 20)
    val base2 = pub("")
    val k23b  = pub("_k23")
    try {
      assert(!fs.exists(new Path(base1)) && live(base2))
      assert(!fs.exists(new Path(k23a)) && live(k23b))
      assert(live(k2), "a new generation of one family GC'd a sibling variant")
      intercept[IllegalArgumentException](pub("_fpx"))
    } finally Seq(base2, k2, k23b).foreach(p => fs.delete(new Path(p), true))
  }

  test("cutover serves a completed _g2 on re-entry; a declined gate leaves no _g2") {
    val root = freshRoot("cut")
    val fs   = new Path(root).getFileSystem(conf)
    var builds1 = 0
    var gates   = 0
    def arc(famRoot: String, prefix: String, trip: Boolean): String =
      IndexDirs.cutover(conf, famRoot, prefix) { tmp =>
        builds1 += 1; touchData(tmp)
      } { _ =>
        gates += 1
        Option.when(trip)(touchData)
      }
    val tripped = s"$root/fam_fp1"
    val served  = arc(tripped, "fam_fp", trip = true)
    assert(served == s"${tripped}_g2" && fs.exists(new Path(served, "_built")))
    assert(!fs.exists(new Path(s"${tripped}_g1")),
      "generation 1 survived the cutover")
    assert(arc(tripped, "fam_fp", trip = true) == served,
      "re-entry did not serve generation 2")
    assert(builds1 == 1 && gates == 1 && !fs.exists(new Path(s"${tripped}_g1")),
      "re-entry republished generation 1")
    val declined = s"$root/other_fp1"
    assert(arc(declined, "other_fp", trip = false) == s"${declined}_g1")
    assert(fs.exists(new Path(s"${declined}_g1", "_built")))
    assert(!fs.listStatus(new Path(root)).exists(
      _.getPath.getName.startsWith("other_fp1_g2")),
      "a declined gate left a generation-2 directory")
  }

  // Source-level generation-path lint: a family module that names its own
  // tmpdir directory or fingerprints its own source file re-grows the
  // lifecycle copies IndexDirs replaced (and can drift from the rule the
  // manifest audit checks). Every such line in src/main belongs in
  // core/IndexDirs.scala, except the declared uses below.

  /** Files allowed a tmpdir or a len+mtime fingerprint outside
    * IndexDirs, each with the reason it is not an index generation.
    */
  private val generationLintAllowed: Map[String, String] = Map(
    "operators/MapReduceQueries.scala" ->
      ("the mr_v2_wordcount plan audit's scratch corpus: one fixed " +
        "per-sf path overwritten each audit, not a published generation"),
    "Tables.scala" ->
      ("readPq's footer-schema cache key: the len+mtime identifies the " +
        "parquet file whose schema is cached, not an index generation"),
    "operators/IndexMerge.scala" ->
      ("the part-stats sidecar identity: name+len+mtime of each sidecar " +
        "file, so a sidecar rewritten elsewhere reads as a cache miss"))

  private val generationLintRx =
    """java\.io\.tmpdir|getLen\b.*getModificationTime""".r

  /** The offending code lines of `text` (comments skipped). */
  private[graft] def generationPathLeaks(file: String,
      text: String): Seq[String] =
    if (file == "core/IndexDirs.scala" || generationLintAllowed.contains(file))
      Nil
    else text.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("//") ||
        l.startsWith("/*"))
      .filter(l => generationLintRx.findFirstIn(l).nonEmpty)
      .map(l => s"$file: $l").toSeq

  private def mainSources: Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala")).map { f =>
      f.getPath.replaceFirst("^.*src/main/scala/graft/", "") ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  test("generation paths and source fingerprints are built only in IndexDirs") {
    val offenders = mainSources.flatMap { case (f, t) => generationPathLeaks(f, t) }
    assert(offenders.isEmpty,
      "a hand-rolled generation path or source fingerprint (name it with " +
        "IndexDirs.generation / fingerprint, or declare it in " +
        "generationLintAllowed with its reason):\n" + offenders.mkString("\n"))
  }

  test("the generation-path lint catches a hand-rolled generation path") {
    // the shape every family used to spell out by hand
    val snippet = """    val st   = src.getFileSystem(conf).getFileStatus(src)
      |    val prefix = s"graft_text_index_${slug}_${dir.hashCode & 0x7fffffff}_"
      |    val idx    = s"${System.getProperty("java.io.tmpdir")}/" +
      |      s"$prefix${st.getLen}_${st.getModificationTime}"""".stripMargin
    assert(generationPathLeaks("text/TextQueries.scala", snippet).size == 2)
    assert(generationPathLeaks("core/IndexDirs.scala", snippet).isEmpty)
  }

  test("every generation-lint allowlist entry is still in use") {
    val texts = mainSources.toMap
    val stale = generationLintAllowed.keys.filterNot(f =>
      texts.get(f).exists(t => generationLintRx.findFirstIn(t).nonEmpty))
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString(", ")}")
  }
}
