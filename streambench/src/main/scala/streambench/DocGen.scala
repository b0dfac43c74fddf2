package streambench

import java.util.SplittableRandom

/** Seeded document stream for the ingest workload: a standing corpus and
  * then fixed-size batches of fresh documents.
  *
  * Words come from a seeded vocabulary with a skewed (roughly Zipf)
  * choice, so documents share common words the way real text does. A
  * quarter of the documents are near-duplicates: a copy of an earlier
  * document (standing corpus, an earlier batch, or earlier in the same
  * batch) with about one word in twenty replaced. That keeps the within-
  * batch pairing, the standing-corpus probe and the tail probe all busy;
  * the rest are fresh and get admitted. Ids are unique and increasing;
  * their starting value is salted by the seed.
  */
final class DocGen(seed: Long) {
  private val vocabSize = 3000
  private val rng = new SplittableRandom(seed * 6364136223846793005L + 1442695040888963407L)
  private val vocab: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(vocabSize) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }
  private val history = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
  private var nextId = 1000000L * (1 + java.lang.Math.floorMod(seed, 97L))

  private def word(): String = {
    // squaring a uniform draw skews the choice towards low ranks
    val u = rng.nextDouble()
    vocab((u * u * vocabSize).toInt)
  }

  private def fresh(): Array[String] = Array.fill(40 + rng.nextInt(41))(word())

  private def mutate(src: Array[String]): Array[String] =
    src.map(w => if (rng.nextInt(20) == 0) word() else w)

  /** The next `n` documents as (doc_id, text). */
  def next(n: Int): Seq[(Long, String)] = Seq.fill(n) {
    val words =
      if (history.nonEmpty && rng.nextInt(4) == 0) mutate(history(rng.nextInt(history.size)))
      else fresh()
    history += words
    nextId += 1
    (nextId, words.mkString(" "))
  }
}
