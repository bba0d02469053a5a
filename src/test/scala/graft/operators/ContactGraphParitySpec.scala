package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** How a [[ContactGraph]] is materialized must never change what its
  * operators return: the memo is a materialization strategy, never a
  * semantics knob. Every graph diagnostic is BIT-IDENTICAL over a
  * checkpointed graph and an unshared one, and over a graph whose
  * node-sized frames broadcast and one whose frames shuffle. A seeded
  * weighted pair fixture with hubs, leaves, ties and an isolated pair
  * exercises tie-breaks (LPA min-label, argmax order) on every path.
  */
class ContactGraphParitySpec extends SparkSpec {
  import spark.implicits._

  private def pairs: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (for (i <- 0 until 40; j <- (i + 1) until 40
                     if rnd.nextDouble() < 0.15)
      yield (i.toLong, j.toLong, (rnd.nextInt(9) + 1).toLong)) ++
      Seq((100L, 101L, 5L), (100L, 101L, 5L)).distinct ++ // isolated pair
      Seq((0L, 1L, 3L), (0L, 2L, 3L)) // duplicate-weight ties off a hub
    rows.toDF("user_a", "user_b", "n_meetings")
      .groupBy("user_a", "user_b").agg(sum("n_meetings").as("n_meetings"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("shared and unshared graphs give bit-identical diagnostics") {
    val p = pairs.localCheckpoint(true)
    val cases: Seq[(String, ContactGraph => DataFrame)] = Seq(
      "degrees" -> (_.colocationDegrees()),
      "degree_correlation" -> (_.degreeCorrelation()),
      "assortativity" -> (_.colocationAssortativity()),
      "kcore" -> (_.kCoreHistogram(rounds = 3)),
      "richclub" -> (_.richClub()),
      "spectral" -> (_.spectralRadius(rounds = 3)),
      "pagerank" -> (_.colocationPagerank(iters = 3)),
      "communities" -> (_.colocationCommunities(rounds = 3)),
      "ball" -> (_.neighborhoodFunction(seedsMod = 2L, maxHops = 2)),
      "louvain" -> (g => g.colocationLouvain(g.louvainLabels(rounds = 3))),
      "louvain_l2" -> (g => g.colocationLouvainL2(g.louvainLabels(rounds = 3), rounds2 = 3)),
      "connectivity" -> (g => g.louvainConnectivity(g.louvainLabels(rounds = 3))),
      "refined" -> (g => g.colocationLouvainRefined(g.louvainLabels(rounds = 3))))
    val shared = ContactGraph.from(p, Share.materialize)
    val unshared = ContactGraph.from(p, Share.none)
    cases.foreach { case (name, run) =>
      val a = sortedRows(run(shared))
      assert(a.nonEmpty, s"$name: empty result")
      assert(a === sortedRows(run(unshared)), s"$name: shared graph diverged")
    }
  }

  test("the small-node proof gates the broadcast, never the result") {
    val p = pairs.localCheckpoint(true)
    val g = ContactGraph.from(p)
    assert(g.nNodes > 0 && g.broadcastNodeFrames)
    // forcing the at-scale shape (no broadcast) through a graph with a
    // fabricated huge node count must not change a single row of any
    // operator that switches on the proof
    val big = g.copy(nNodes = Long.MaxValue)
    assert(!big.broadcastNodeFrames)
    val cases: Seq[(String, ContactGraph => DataFrame)] = Seq(
      "kcore" -> (_.kCoreHistogram(rounds = 3)),
      "spectral" -> (_.spectralRadius(rounds = 3)),
      "pagerank" -> (_.colocationPagerank(iters = 3)),
      "communities" -> (_.colocationCommunities(rounds = 3)))
    cases.foreach { case (name, run) =>
      assert(sortedRows(run(g)) === sortedRows(run(big)), s"$name: broadcast changed the result")
    }
  }

  test("the node and pair counts come from the degree table") {
    val p = pairs.localCheckpoint(true)
    val g = ContactGraph.from(p)
    assert(g.nPairs === p.count())
    assert(g.nNodes ===
      p.select(explode(array(col("user_a"), col("user_b")))).distinct().count())
    val none = p.limit(0)
    val empty = ContactGraph.from(none)
    assert(empty.nPairs === none.count() && empty.nNodes === 0L)
  }
}
