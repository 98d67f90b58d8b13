package graft.core

import org.scalactic.source.Position
import org.scalatest.Assertions
import java.nio.file.{Files, Paths}

/** Token corpora for the MapReduce specs.
  *
  * Legs that check an engine property write their own corpus with
  * [[SeedGenerator]] and assert against the counts it returns — the
  * reference's "printed golden counts" method (SURVEY §5.1). Legs whose
  * subject is the reference's own corpora or run artifact read them
  * from a checkout of the reference and cancel where it is absent.
  */
object Corpora {

  /** A generated corpus file and its per-sentence golden counts
    * (`SeedGenerator.Sentences` order).
    */
  final case class Generated(path: String, counts: Array[Long])

  /** Sizes of the reference seed files the generated corpora stand in
    * for (`seed/teste{1K,10K,100K}.txt`).
    */
  val Bytes1K   = 1006L
  val Bytes10K  = 10004L
  val Bytes100K = 100010L

  /** Writes a fresh corpus of at least `bytes` bytes (seed 42). */
  def generate(bytes: Long): Generated = {
    val path = Files.createTempDirectory("graft-corpus").resolve("corpus.txt").toString
    Generated(path, SeedGenerator.generate(bytes, path))
  }

  /** The reference's seed corpora, `teste{1K,10K,100K,1M}.txt`. */
  val ReferenceSeedDir = "/root/reference/mapreduce/seed"

  /** The single reducer output of the reference's 100K run. */
  val ReferenceReduced100K = "/root/reference/mapreduce/dataset/teste100K49reduced0.txt"

  /** Cancels the calling test unless every path is a regular file. */
  def assumeReference(paths: String*)(implicit pos: Position): Unit = {
    val missing = paths.filterNot(p => Files.isRegularFile(Paths.get(p)))
    if (missing.nonEmpty)
      Assertions.cancel(s"reference checkout absent, missing: ${missing.mkString(", ")}")
  }
}
