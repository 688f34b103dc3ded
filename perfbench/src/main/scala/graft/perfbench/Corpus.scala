package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.TimeUnit
import scala.collection.mutable

/** Deterministic markdown corpus on local disk plus the model of what a
  * correct sync must leave behind.
  *
  * Everything — vocabulary, document text, file layout, mtimes and the
  * hourly mutation schedule — derives from `seed`, so one seed always gives
  * the same inputs. File mtimes are set explicitly from a fake clock that
  * advances one hour per cycle: `Delta.changed` compares epoch-second mtimes
  * with a strict `>`, so an edit stamped in the same second as the previous
  * sync would be skipped silently and the cycle would under-count its work.
  */
final class Corpus(val root: Path, seed: Long, nDocs: Int, nDirs: Int = 50) {
  import Corpus._

  private val rng   = new SplittableRandom(seed)
  private val vocab = Array.fill(VocabSize)(word(rng))

  /** Live `.md` files by absolute path; the `.txt` distractors are kept
    * apart because the sync's path filter must never see them. */
  val docs        = mutable.LinkedHashMap.empty[String, Doc]
  val distractors = mutable.ArrayBuffer.empty[Path]
  private var nextId = 0
  /** Fake wall clock, epoch seconds. */
  var clock: Long = Epoch0

  private def dir(i: Int): Path = root.resolve(f"d$i%02d")

  /** Zipf-like word choice so documents share frequent words and cosine
    * scores spread instead of sitting near zero. */
  private def text(words: Int): String = {
    val sb = new java.lang.StringBuilder(words * 7)
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      val u = rng.nextDouble()
      sb.append(vocab((u * u * u * VocabSize).toInt))
      i += 1
    }
    sb.toString
  }

  private def shortWords(): Int = 40 + rng.nextInt(16) // ~300 chars
  private def longWords(): Int  = MaxTokens + 100 + rng.nextInt(400)

  private def write(p: Path, body: String, mtime: Long): Unit = {
    Files.write(p, body.getBytes(UTF_8))
    Files.setLastModifiedTime(p, FileTime.from(mtime, TimeUnit.SECONDS))
  }

  private def put(p: Path, words: Int, mtime: Long): Doc = {
    val body = text(words)
    write(p, body, mtime)
    val d = Doc(p, uri(p), mtime, words, body.getBytes(UTF_8).length.toLong)
    docs(d.path) = d
    d
  }

  private def newPath(): Path = {
    val p = dir(rng.nextInt(nDirs)).resolve(f"doc$nextId%06d.md")
    nextId += 1
    p
  }

  /** Lays the initial corpus down, every mtime strictly before `clock`. */
  def create(): Unit = {
    (0 until nDirs).foreach(i => Files.createDirectories(dir(i)))
    (0 until nDocs).foreach { i =>
      val words = if (i < InitialLong) longWords() else shortWords()
      put(newPath(), words, clock - 1 - rng.nextInt(30 * 24 * 3600))
    }
    (0 until nDocs / 100).foreach { i =>
      val p = dir(rng.nextInt(nDirs)).resolve(f"notes$i%04d.txt")
      write(p, text(shortWords()), clock - 1 - rng.nextInt(3600))
      distractors += p
    }
  }

  private def pick(pred: Doc => Boolean): Option[Doc] = {
    val c = docs.valuesIterator.filter(pred).toVector
    if (c.isEmpty) None else Some(c(rng.nextInt(c.size)))
  }

  private def fresh(): Long = clock - rng.nextInt(3000) // after the last sync

  /** Advances the clock one hour and mutates about 0.5% of the corpus:
    * mostly edits, some adds, some deletes, a touched distractor, and on
    * alternate cycles one document crossing the token guard up or down.
    * Returns what the next `Sync.run` must report and do. */
  def mutate(cycle: Int): Expected = {
    clock += 3600
    val n       = math.max(4, docs.size / 200)
    val nAdd    = math.max(1, n / 8)
    val nDel    = nAdd
    val touched = mutable.LinkedHashSet.empty[String]
    var tooLong, idxRemoved = 0L

    if (cycle % 2 == 0) // up: an indexed doc grows past the guard
      pick(d => d.tokens < MaxTokens).foreach { d =>
        put(d.file, longWords(), fresh())
        touched += d.path; tooLong += 1; idxRemoved += 1
      }
    else // down: an over-long doc is cut back under it
      pick(d => d.tokens >= MaxTokens).foreach { d =>
        put(d.file, shortWords(), fresh())
        touched += d.path
      }
    (0 until nDel).foreach { _ =>
      pick(d => !touched(d.path)).foreach { d =>
        Files.delete(d.file)
        docs.remove(d.path)
        if (d.tokens < MaxTokens) idxRemoved += 1
      }
    }
    (touched.size until n - nAdd - nDel).foreach { _ =>
      pick(d => d.tokens < MaxTokens && !touched(d.path)).foreach { d =>
        put(d.file, shortWords(), fresh())
        touched += d.path
      }
    }
    (0 until nAdd).foreach(_ => touched += put(newPath(), shortWords(), fresh()).path)
    val t = distractors(rng.nextInt(distractors.size))
    write(t, text(shortWords()), fresh())

    val changedBytes = touched.iterator.map(docs(_).bytes).sum
    Expected(scanned = docs.size, changed = touched.size, tooLong = tooLong,
      indexed = touched.size - tooLong, deleted = nDel, indexRemoved = idxRemoved,
      changedBytes = changedBytes)
  }

  /** What a cold sync over the current corpus must report. */
  def coldExpected(): Expected = {
    val long = docs.valuesIterator.count(_.tokens >= MaxTokens).toLong
    Expected(scanned = docs.size, changed = docs.size, tooLong = long,
      indexed = docs.size - long, deleted = 0, indexRemoved = 0,
      changedBytes = docs.valuesIterator.map(_.bytes).sum)
  }

  /** Index content a correct sync leaves: path -> version (file mtime). */
  def expectedIndex: Map[String, Long] =
    docs.valuesIterator.filter(_.tokens < MaxTokens).map(d => d.path -> d.mtime).toMap

  /** A query text drawn from the same word distribution as the corpus. */
  def queryText(): String = text(shortWords())
}

object Corpus {
  val MaxTokens   = 8191
  val VocabSize   = 4000
  val InitialLong = 3
  /** 2020-09-13T12:26:40Z: far enough in the past that no real clock
    * interferes, and all mtimes stay whole seconds. */
  val Epoch0 = 1600000000L

  final case class Doc(file: Path, path: String, mtime: Long, tokens: Int, bytes: Long)

  /** What one `Sync.run` must report (the first five) and do. */
  final case class Expected(scanned: Long, changed: Long, tooLong: Long,
                            indexed: Long, deleted: Long, indexRemoved: Long,
                            changedBytes: Long)

  /** Path as Spark's binaryFile source spells it (`file:/abs/path`). */
  def uri(p: Path): String = "file:" + p.toAbsolutePath.normalize.toString

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "w", "z", "st", "tr", "pl", "br", "ch", "sh", "gr")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")

  private def word(r: SplittableRandom): String = {
    val sb = new StringBuilder
    (0 until 1 + r.nextInt(3)).foreach { _ =>
      sb.append(Onsets(r.nextInt(Onsets.length))).append(Nuclei(r.nextInt(Nuclei.length)))
    }
    if (r.nextInt(3) == 0) sb.append(Onsets(r.nextInt(12)))
    sb.toString
  }
}
