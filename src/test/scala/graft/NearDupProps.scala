package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.operators.Dedup

/** Guarantee-based oracles for the near-dup pair families, against
  * driver-side shingle/bit arithmetic:
  *
  *   - `simhashPairs` is EXACT on small corpora: the 4×15-bit chunk
  *     pigeonhole guarantees every pair within hamming ≤ 3 shares a band,
  *     so (with buckets under the cap) the output must EQUAL the
  *     brute-force hamming-filtered pair set over the collected
  *     signatures.
  *   - `minhashLsh` is sound (every emitted pair's exact shingle-set
  *     Jaccard clears the threshold, with the emitted value equal to the
  *     driver's HALF_UP-rounded ratio) and complete for verbatim
  *     duplicates (identical shingle sets ⇒ identical signatures ⇒ a
  *     shared band ⇒ the pair must appear with jaccard 1).
  *   - `winnow` is sound the same way, and complete for its documented
  *     containment guarantee: two documents sharing a run of
  *     ≥ w + n − 1 tokens FRESH within each document share a full
  *     window of w consecutive shingle hashes, hence a sketch hash,
  *     hence must appear whenever their exact Jaccard clears the
  *     threshold.
  *
  * Driver shingles are distinct token n-gram tuples (the distilled `sh`
  * form), with the one-zero-padded-window rule for documents shorter
  * than n tokens mapped to a synthetic per-token-sequence shingle in its
  * own domain. Hash collisions in the 60-bit gram space would be the
  * only divergence — vanishingly improbable at these corpus sizes.
  */
object NearDupProps extends Properties("NearDup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private lazy val spark = SparkSpec.session

  private val n = 3 // shingle width (operator default)
  private val w = 4 // winnow window (operator default)

  private val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox")
  private val docGen: Gen[String] = for {
    m <- Gen.choose(0, 8)
    ws <- Gen.listOfN(m, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  private def tokensOf(t: String): Seq[String] =
    t.toLowerCase.replaceAll("\\s+", " ").trim.split("\\s+").toSeq.filter(_.nonEmpty)

  private def shingles(t: String): Set[String] = {
    val tks = tokensOf(t)
    if (tks.isEmpty) Set.empty
    else if (tks.size < n) Set(tks.mkString("\u0000") + "\u0001PAD")
    else tks.sliding(n).map(_.mkString("\u0000")).toSet
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def jaccard(a: Set[String], b: Set[String]): Option[Double] = {
    val u = (a | b).size
    if (u == 0) None else Some(round6((a & b).size.toDouble / u))
  }

  property("simhashPairs == brute-force hamming pairs over the signatures (exact)") =
    forAllNoShrink(Gen.choose(4, 20).flatMap(m => Gen.listOfN(m, docGen)),
                   Gen.choose(0, 3)) { (texts0, maxHamming) =>
      // duplicate one doc so hamming-0 pairs exist in most runs
      val texts = if (texts0.nonEmpty) texts0 :+ texts0.head else texts0
      val s = spark; import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.simhashPairs(docs, maxHamming = maxHamming)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sigs = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb).toLong if h <= maxHamming
      } yield (ia, ib, h)).toSet
      got == want
    }

  property("minhashLsh: sound (exact Jaccard values) and complete for verbatim dups") =
    forAllNoShrink(Gen.choose(4, 15).flatMap(m => Gen.listOfN(m, docGen))) { texts0 =>
      val texts = texts0 ++ texts0.take(2) // verbatim duplicates
      val s = spark; import s.implicits._
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val threshold = 0.5
      val got = Dedup.minhashLsh(rows.toDF("doc_id", "text"), threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val sh = rows.map { case (id, t) => id -> shingles(t) }.toMap
      val sound = got.forall { case (a, b, j) =>
        a < b && jaccard(sh(a), sh(b)).exists(dj => dj == j && dj >= threshold) }
      val noDups = got.map(t => (t._1, t._2)).distinct.length == got.length
      val pairSet = got.map(t => (t._1, t._2)).toSet
      val complete = rows.map(_._1).combinations(2).forall { pair =>
        val (a, b) = (pair.min, pair.max)
        sh(a).isEmpty || sh(a) != sh(b) || pairSet.contains((a, b))
      }
      sound && noDups && complete
    }

  property("winnow: sound (exact Jaccard values) and complete for shared fresh runs") =
    forAllNoShrink(Gen.choose(2, 6).flatMap(m => Gen.listOfN(m, docGen)),
                   Gen.choose(0, 2), Gen.choose(0, 2)) { (fillers, npre, nsuf) =>
      val s = spark; import s.implicits._
      // one constructed pair sharing a (w + n − 1)-token run of tokens
      // fresh to each document (unique, outside the filler vocab)
      val run = (0 until (w + n - 1)).map(i => s"r$i")
      val pre = (0 until npre).map(i => s"p$i")
      val suf = (0 until nsuf).map(i => s"s$i")
      val docA = (pre ++ run).mkString(" ")
      val docB = (run ++ suf).mkString(" ")
      val texts = fillers ++ Seq(docA, docB)
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val threshold = 0.3
      val got = Dedup.winnow(rows.toDF("doc_id", "text"), threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val sh = rows.map { case (id, t) => id -> shingles(t) }.toMap
      val sound = got.forall { case (a, b, j) =>
        a < b && jaccard(sh(a), sh(b)).exists(dj => dj == j && dj >= threshold) }
      val (ia, ib) = (fillers.size.toLong, fillers.size.toLong + 1)
      val constructed = jaccard(sh(ia), sh(ib)).exists(_ >= threshold)
      val complete = !constructed || got.exists(t => t._1 == ia && t._2 == ib)
      sound && complete
    }
}
