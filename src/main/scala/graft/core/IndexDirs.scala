package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one lifecycle of every persisted index family (and of the lakes
  * and ingest logs published the same way): name a generation after its
  * source file's identity, publish it atomically, maintain it once, cut
  * over to a retrained generation. Family modules keep only their model
  * code (centroids, codebooks, bands, codecs, BM25 stats).
  *
  * Naming rule ([[generation]]): a generation of `family` built from
  * `dir/source` lives at
  * `java.io.tmpdir/<family>_<slug>_<hash><variant>_fp<len>_<mtime>`.
  *  - `slug`: `dir` with each non-alphanumeric run replaced by `_`, its
  *    last 40 characters (readable);
  *  - `hash`: the hex `String.hashCode` of the unsanitized `dir`, so two
  *    paths with the same slug do not collide;
  *  - `variant`: an optional same-source sub-family that keeps its own
  *    generations (IVF's `_k<n>` cell counts);
  *  - `<len>_<mtime>` ([[fingerprint]]): the source file's length and
  *    modification time, so a regenerated source at the same path is
  *    never served a stale index.
  * Everything before the fingerprint is the family's GC prefix.
  *
  * Prefix safety: [[publish]] deletes every published sibling whose name
  * starts with the prefix, so no family's prefix may be a prefix of
  * another family's directory names. The rule guarantees it when no
  * family string is another's `_`-extension (`graft_x` next to
  * `graft_x_y` would let a crafted 40-character slug line up) and no
  * variant contains `_fp`: every prefix ends in `<hex hash><variant>_fp`,
  * and after the hex hash a different variant diverges before any
  * fingerprint digit (`..._fp` vs `..._k23_fp`, `..._k2_fp` vs
  * `..._k23_fp`).
  *
  * One-time rebuild: directories named by an older rule (the
  * decimal-hash `<family>_<slug>_<hash>_<len>_<mtime>` of the text,
  * media, band, lake and ingest-log families) do not carry the current
  * prefix. They are never served, each family rebuilds once under its
  * current name, and the old directories are not GC'd.
  *
  * Publish discipline: the naive build-in-place had two hazards —
  * `synchronized` is JVM-local, so two JVMs could interleave writes and
  * the `_built` marker on the SAME directory (a crash mid-build left a
  * half-written index at the final path), and fingerprint-keyed
  * directories stranded every PREVIOUS generation in the tmpdir.
  * [[publish]] fixes both: the build writes into a `.build_<nonce>`
  * sibling, the `_built` marker lands INSIDE the temp, and the whole
  * directory renames into place in one atomic move (rename(2) on the
  * local FS, atomic directory rename on HDFS) — a half-written index
  * is never observable at the published path, and a builder that
  * loses a cross-JVM race deletes its own temp and serves the
  * winner's (same fingerprint = same source bytes = equivalent
  * index). After a successful publish, sibling PUBLISHED directories
  * with the same `prefix` but a different fingerprint — previous
  * corpus generations — are deleted; in-flight `.build_` temps of
  * other processes are left alone.
  */
object IndexDirs {

  /** A source file's identity, `<len>_<mtime>`: the generation key of
    * every family built from it, and what the manifest audit checks the
    * served generations against.
    */
  def fingerprint(conf: Configuration, dir: String, source: String): String = {
    val p  = new Path(s"$dir/$source")
    val st = p.getFileSystem(conf).getFileStatus(p)
    s"${st.getLen}_${st.getModificationTime}"
  }

  /** One generation of a family: its directory and the GC prefix (the
    * directory name up to the fingerprint) all its generations share.
    */
  final case class Generation(path: String, prefix: String)

  /** The current generation of `family` over `dir/source`, named by the
    * rule in the object doc.
    */
  def generation(conf: Configuration, dir: String, source: String,
      family: String, variant: String = ""): Generation = {
    require(!variant.contains("_fp"), s"variant $variant breaks prefix safety")
    val slug   = dir.replaceAll("[^A-Za-z0-9]+", "_").takeRight(40)
    val prefix = s"${family}_${slug}_" +
      java.lang.Integer.toHexString(dir.hashCode) + s"${variant}_fp"
    Generation(s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      fingerprint(conf, dir, source), prefix)
  }

  /** [[publish]] the current generation of `family` over `dir/source`. */
  def publishCurrent(conf: Configuration, dir: String, source: String,
      family: String, variant: String = "")(build: String => Unit): String = {
    val g = generation(conf, dir, source, family, variant)
    publish(conf, g.path, g.prefix)(build)
  }

  /** The maintain-once shape of the maintenance demos: publish the
    * current generation's `base` (a build, or [[cloneInto]] from a
    * serving index), then once per generation ([[appliedOnce]] under
    * `marker`) run `apply` if the data-derived `pending` guard says the
    * batch has not fully landed. Returns the index.
    */
  def maintainOnce(conf: Configuration, dir: String, source: String,
      family: String, marker: String)(base: String => Unit)(
      pending: String => Boolean)(apply: String => Unit): String = {
    val idx = publishCurrent(conf, dir, source, family)(base)
    appliedOnce(conf, idx, marker) { if (pending(idx)) apply(idx) }
    idx
  }

  /** The two-generation retrain cutover. Serve `<root>_g2` if it is
    * published; otherwise publish `<root>_g1` via `build1` and run the
    * family's `gate` on it (the gate also merges the nightly batch). A
    * declined gate (`None`) leaves generation 1 serving and creates no
    * `_g2` directory; a tripped gate returns generation 2's build, which
    * publishes under the same `prefix` — the atomic cutover, whose GC
    * removes generation 1. Generation 2 is checked FIRST on re-entry:
    * republishing generation 1 would GC a completed generation 2.
    */
  def cutover(conf: Configuration, root: String, prefix: String)(
      build1: String => Unit)(
      gate: String => Option[String => Unit]): String = {
    val gen2 = s"${root}_g2"
    if (new Path(gen2).getFileSystem(conf).exists(new Path(gen2, "_built")))
      return gen2
    val gen1 = publish(conf, s"${root}_g1", prefix)(build1)
    gate(gen1).fold(gen1)(build2 => publish(conf, gen2, prefix)(build2))
  }

  /** Return `idx`, building it first via `build(tmpDir)` if no
    * published index exists there. `prefix` is the directory-name
    * prefix shared by all generations of THIS index (everything
    * before the source-data fingerprint) — used to garbage-collect
    * stale generations, so it must be specific enough to never match
    * a differently-keyed index family.
    */
  def publish(conf: Configuration, idx: String, prefix: String)(
      build: String => Unit): String = {
    val target = new Path(idx)
    val fs     = target.getFileSystem(conf)
    if (fs.exists(new Path(target, "_built"))) return idx
    val tmp = new Path(
      idx + ".build_" + java.lang.Long.toHexString(System.nanoTime()))
    build(tmp.toString)
    fs.create(new Path(tmp, "_built"), true).close()
    // Re-check for a concurrent winner BEFORE renaming: on the local
    // FS, Hadoop's RawLocalFileSystem.rename falls back to
    // FileUtil.copy(deleteSource = true) when renameTo(2) fails, and
    // that copy NESTS the source inside an existing destination
    // directory and returns true — so a loser's rename would "succeed"
    // and strand a full duplicate index at target/.build_<nonce>/.
    // Checking _built first makes the loser delete its temp without
    // ever calling rename onto an existing directory. The residual
    // exists→rename window is closed by the require below plus the
    // fact that both copies are byte-equivalent (same fingerprint).
    if (fs.exists(new Path(target, "_built"))) {
      fs.delete(tmp, true)
    } else if (!fs.rename(tmp, target)) {
      // lost the publish race to another process; drop our copy and
      // serve the winner's — but never return an unpublished path
      fs.delete(tmp, true)
      require(fs.exists(new Path(target, "_built")),
        s"index publish failed and no concurrent publish exists: $idx")
    }
    gcStaleGenerations(fs, target, prefix)
    idx
  }

  /** Copy a PUBLISHED index's contents into `tmp` (a build sibling of
    * another family) — the maintenance-tier bootstrap: a demo that
    * MUTATES its own copy of a base index clones the published
    * artifact instead of re-training identical models and re-encoding
    * the corpus (same fingerprint discipline ⇒ byte-equivalent
    * content; at production scale a filesystem copy vs a corpus
    * encode is the difference between minutes and hours). `_built` is
    * skipped — the destination's own publish stamps it.
    */
  def cloneInto(conf: Configuration, src: String, tmp: String): Unit = {
    val srcP = new Path(src)
    val fs   = srcP.getFileSystem(conf)
    require(fs.exists(new Path(srcP, "_built")),
      s"clone source not published: $src")
    fs.mkdirs(new Path(tmp))
    fs.listStatus(srcP).foreach { st =>
      if (st.getPath.getName != "_built")
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(tmp, st.getPath.getName), false, conf)
    }
  }

  /** Applied-once MARKER fast path for a published index's maintenance
    * op (r16, guide §1.1): `marker` records that `work` — typically a
    * data-derived presence guard plus an idempotent MERGE/purge —
    * CONVERGED on this generation. The steady-state re-entry check
    * becomes one file stat instead of the guard's per-call Spark
    * actions (the guard jobs were most of several maintenance rows'
    * serve-path cost). Crash discipline mirrors `_built` and the
    * lakes' `_purge_applied`: the marker is written only AFTER `work`
    * returns, so a crash anywhere inside leaves it absent and the next
    * caller re-enters the full guard/repair path; the marker can never
    * claim convergence that didn't happen. The generation directory
    * owns the marker — a regenerated source gets a fresh fingerprint
    * path with no marker, and [[publish]] GCs the old one.
    */
  def appliedOnce(conf: Configuration, idx: String, marker: String)(
      work: => Unit): Unit = {
    val p  = new Path(idx, marker)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) {
      work
      fs.create(p, true).close()
    }
  }

  /** The published generations of `idx`'s family that do NOT carry the
    * current source fingerprint `fp` — the serving-tier audit behind
    * `ss_index_manifest`: a multi-index deployment checks, before going
    * live, that every index family serves exactly one generation and
    * that it is the current one. Normal operation keeps this empty
    * ([[publish]] GCs previous generations after a successful build);
    * a non-empty result means a GC failure or an index built from a
    * source regenerated underneath it. The family prefix is derived
    * from the served directory's name by stripping the fingerprint
    * suffix, so callers need not re-derive the family's naming rule.
    */
  private[graft] def stalePublishedGenerations(conf: Configuration,
      idx: String, fp: String): Seq[String] = {
    val target = new Path(idx)
    val name   = target.getName
    require(name.endsWith(fp),
      s"served index $name does not carry the current fingerprint $fp")
    val prefix = name.dropRight(fp.length)
    val fs     = target.getFileSystem(conf)
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    fs.listStatus(parent).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
        st.getPath.getName != name && !st.getPath.getName.contains(".build_") &&
        fs.exists(new Path(st.getPath, "_built")))
      .map(_.getPath.getName)
  }

  private def gcStaleGenerations(fs: FileSystem, target: Path,
      prefix: String): Unit = {
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return
    fs.listStatus(parent).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(prefix) && n != target.getName &&
          !n.contains(".build_"))
        fs.delete(st.getPath, true)
    }
  }
}
