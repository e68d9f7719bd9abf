package perfbench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.JsonNode

/** One workload's traffic dimensions, read from `perfbench/workloads.json`. */
final class Params(node: JsonNode, val workload: String) {
  private def get(k: String): JsonNode =
    Option(node.get(k)).getOrElse(throw new IllegalArgumentException(s"$workload: missing parameter $k"))
  def int(k: String): Int = get(k).asInt()
  def long(k: String): Long = get(k).asLong()
  def dbl(k: String): Double = get(k).asDouble()
  def str(k: String): String = get(k).asText()
}

/** Seeded input generators. Every draw comes from one SplittableRandom
  * seeded by `--seed`, so a seed fixes the inputs exactly; the program
  * only ever sees the rows these produce.
  */
final class Gen(seed: Long) {
  val rnd = new SplittableRandom(seed)

  def uniform(): Double = rnd.nextDouble()
  def below(n: Int): Int = rnd.nextInt(n)
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * rnd.nextDouble())
  }

  /** Zipf(s) over ranks 0 until n: rank r has weight 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, uniform())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def chars(lo: Int, hi: Int): String = {
    val n = lo + below(hi - lo + 1)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += ('a' + below(26)).toChar)
    sb.toString
  }
}

/** Text corpus for the dedup pipeline: Zipf-distributed words with English
  * stopwords mixed in, plus low-quality and foreign-language documents the
  * quality/lang filter should drop, and planted exact and near copies.
  */
final class DocGen(g: Gen, p: Params) {
  private val vocab = p.int("vocab")
  private val words = new g.Zipf(vocab, p.dbl("vocab_zipf"))
  private val stop = Array("the", "a", "an", "and", "of")
  private val foreign = Array("el", "la", "de", "que", "los")
  private val exactShare = p.dbl("exact_dup_share")
  private val nearShare = p.dbl("near_dup_share")
  private val lowShare = p.dbl("low_quality_share")
  private val (editLo, editHi) = (p.dbl("near_edit_min"), p.dbl("near_edit_max"))
  private val (tokLo, tokHi) = (p.int("doc_tokens_min"), p.int("doc_tokens_max"))

  val texts = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Planted exact copies: doc_id -> the doc it copies. */
  val exactOf = scala.collection.mutable.LongMap.empty[Long]
  private val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def word(): String = s"w${words.draw()}"

  private def freshText(n: Int, markers: Array[String]): String =
    (0 until n).map(_ => if (g.uniform() < 0.14) markers(g.below(markers.length)) else word()).mkString(" ")

  /** Append one document; returns its doc_id (its index in `texts`). */
  def next(): Long = {
    val id = texts.size.toLong
    val u = g.uniform()
    texts += {
      if (fresh.nonEmpty && u < exactShare) {
        val src = fresh(g.below(fresh.size))
        exactOf(id) = src
        texts(src.toInt)
      } else if (fresh.nonEmpty && u < exactShare + nearShare) {
        // a near copy: a share of the source's words replaced, drawn so the
        // copies' Jaccard spans both sides of the near-dup threshold
        val edit = editLo + (editHi - editLo) * g.uniform()
        texts(fresh(g.below(fresh.size)).toInt).split(" ")
          .map(t => if (g.uniform() < edit) word() else t).mkString(" ")
      } else if (u < exactShare + nearShare + lowShare) {
        // short and stopword-free, or foreign: the filter drops these
        if (g.uniform() < 0.5) freshText(4 + g.below(8), Array("w1")) else freshText(tokLo, foreign)
      } else {
        fresh += id
        freshText(tokLo + g.below(tokHi - tokLo + 1), stop)
      }
    }
    id
  }
}

/** Clustered vectors for the IVF index: `clusters` Gaussian centres, each
  * point a centre plus isotropic noise.
  */
final class VecGen(g: Gen, p: Params) {
  val dim: Int = p.int("dim")
  private val centres = Array.fill(p.int("vector_clusters"), dim)(g.gaussian())
  private val noise = p.dbl("vector_noise")
  def next(): Array[Float] = {
    val c = centres(g.below(centres.length))
    Array.tabulate(dim)(j => (c(j) + noise * g.gaussian()).toFloat)
  }
}
