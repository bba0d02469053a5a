package graft.operators

import graft.SparkSpec

class HeapsSpec extends SparkSpec {
  import spark.implicits._

  /** Local replay of heapsFit: per `every`-doc bucket the token count and
    * the words first seen there, both cumulated over the bucket spine,
    * then n, beta and log_k from the exact lnq sums.
    */
  private def replay(docs: Seq[(Long, String)], every: Long): (Long, Double, Double) = {
    def lnq(x: Long) = math.floor(StrictMath.log(x.toDouble) * 1e6).toLong
    val words = docs.flatMap { case (d, t) => t.split(" ").map(w => (w, d)) }
    val firstBucket = words.groupBy(_._1).values.map(_.map(_._2).min / every).toSeq
    val spine = docs.map(_._1 / every).distinct.sorted
    val pts = spine.map { b =>
      val n = docs.filter(_._1 / every <= b).map(_._2.split(" ").length.toLong).sum
      (lnq(n), lnq(firstBucket.count(_ <= b).toLong))
    }
    val (np, sx, sy) = (pts.length.toLong, pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val beta = (BigInt(np) * sxy - BigInt(sx) * sy).toDouble / (BigInt(np) * sxx - BigInt(sx) * sx).toDouble
    (np, beta, ((sy.toDouble - beta * sx.toDouble) / np.toDouble) / 1e6)
  }

  test("pure power-law vocabulary growth recovers its exponent") {
    // construct docs where cumulative vocab V(n) = n^0.5 exactly at each
    // bucket boundary: doc d contributes 16 tokens; new words per doc
    // chosen so V after doc d is round(sqrt(16(d+1)))
    val tokensPerDoc = 16
    var vocabSoFar = 0
    val docs = (0 until 256).map { d =>
      val targetV = math.round(math.sqrt(16.0 * (d + 1))).toInt
      val newWords = (vocabSoFar until targetV).map(i => s"w$i")
      vocabSoFar = targetV
      val filler = Seq.fill(tokensPerDoc - newWords.size)("w0")
      (d.toLong, (newWords ++ filler).mkString(" "))
    }
    val got = TextAnalysis.heapsFit(docs.toDF("doc_id", "text"), sampleEvery = 8L)
      .select("n_points", "beta", "log_k").as[(Long, Double, Double)].head()
    assert(got._1 == 32L)
    assert(math.abs(got._2 - 0.5) < 0.03, s"beta ${got._2} should be ~0.5")
    assert(got == replay(docs, 8L))
  }

  test("closed vocabulary flattens toward beta 0") {
    val docs = (0 until 128).map(d => (d.toLong, Seq.fill(10)(s"w${d % 5}").mkString(" ")))
    val got = TextAnalysis.heapsFit(docs.toDF("doc_id", "text"), sampleEvery = 4L)
      .select("n_points", "beta", "log_k").as[(Long, Double, Double)].head()
    val beta = got._2
    assert(beta < 0.1, s"beta $beta for a 5-word vocabulary")
    assert(got == replay(docs, 4L))
  }
}
