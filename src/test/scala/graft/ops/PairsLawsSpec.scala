package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator property laws for the stochastic-looking
  * operators (SURVEY.md §5): pair-generation invariants over random
  * baskets, negative-sampler range/determinism, salting. Generators
  * are driven by a fixed-seed loop (the scalatestplus bridge isn't
  * available offline) — failures print the offending case. */
class PairsLawsSpec extends SparkSpec {
  import spark.implicits._

  private val W = 3
  private val Vocab = 50
  private val Cases = 12

  private val basketGen: Gen[List[Int]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, Vocab - 1)))

  private val basketsGen: Gen[List[List[Int]]] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, basketGen))

  /** Deterministic sample stream: case i uses seed i. */
  private def cases: Seq[List[List[Int]]] =
    (1 to Cases).map(i =>
      basketsGen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(List(List(1, 2, 3))))

  private def toSeqDf(baskets: List[List[Int]]) =
    baskets.zipWithIndex.flatMap { case (b, oid) =>
      b.zipWithIndex.map { case (item, pos) => (oid.toLong, pos, item) }
    }.toDF("order_id", "pos", "item")

  test("A9 laws: band, no self, no UNK, symmetry, count bound — random baskets") {
    cases.foreach { baskets =>
      val pairs = Pairs.skipGramPairs(toSeqDf(baskets), W)
        .select("order_id", "pos_t", "pos_c", "target", "context")
        .as[(Long, Int, Int, Int, Int)].collect()
      assert(pairs.forall(p => p._2 != p._3 && math.abs(p._2 - p._3) <= W),
        s"band/self violated for $baskets")
      assert(pairs.forall(p => p._4 != 0 && p._5 != 0),
        s"UNK pair emitted for $baskets")
      val posSet = pairs.map(p => (p._1, p._2, p._3)).toSet
      assert(posSet.forall { case (o, i, j) => posSet.contains((o, j, i)) },
        s"asymmetric pair set for $baskets")
      assert(pairs.groupBy(p => (p._1, p._2)).forall(_._2.length <= 2 * W),
        s"per-item pair bound exceeded for $baskets")
    }
  }

  test("A9 law: array form == relational form on random baskets") {
    cases.foreach { baskets =>
      val arr = baskets.zipWithIndex.map { case (b, oid) => (oid.toLong, b) }
        .toDF("order_id", "basket")
      val a = Pairs.skipGramPairsFromBaskets(arr, W)
        .select("order_id", "pos_t", "pos_c", "target", "context")
        .as[(Long, Int, Int, Int, Int)].collect().sorted.toSeq
      val b = Pairs.skipGramPairs(toSeqDf(baskets), W)
        .select("order_id", "pos_t", "pos_c", "target", "context")
        .as[(Long, Int, Int, Int, Int)].collect().sorted.toSeq
      assert(a == b, s"pair multisets diverge for $baskets")
    }
  }

  test("A10 laws: negatives in [0, K), exactly numNs, reproducible") {
    cases.take(5).foreach { baskets =>
      val pairs = Pairs.skipGramPairs(toSeqDf(baskets), W)
      val negs = Pairs.negatives(pairs, 4, Vocab).select("negatives")
        .as[Seq[Int]].collect()
      assert(negs.forall(_.length == 4))
      assert(negs.flatten.forall(k => k >= 0 && k < Vocab))
      val again = Pairs.negatives(pairs, 4, Vocab).select("negatives")
        .as[Seq[Int]].collect()
      assert(negs.toSeq == again.toSeq, "keyed draws must be reproducible")
    }
  }

  test("salting law: saltedCounts == direct groupBy for random pair streams and salt counts") {
    cases.foreach { baskets =>
      val pairs = Pairs.skipGramPairs(toSeqDf(baskets), W)
      val direct = pairs.groupBy($"target", $"context")
        .agg(count(lit(1)).as("cnt"))
        .as[(Int, Int, Long)].collect().toSet
      Seq(1, 3, 16).foreach { salts =>
        val salted = Pairs.saltedCounts(pairs, Seq("target", "context"),
          Seq($"order_id", $"pos_t", $"pos_c"), salts)
          .as[(Int, Int, Long)].collect().toSet
        assert(salted == direct,
          s"salted($salts) != direct for $baskets")
      }
    }
  }

  test("A8 law: keep-prob in [0,1], 0 for UNK, non-decreasing in rank") {
    Seq(2, 5, 37, 100, 300).foreach { size =>
      val t = Pairs.samplingTable(spark, size).orderBy("idx")
        .select("keep_prob").as[Double].collect()
      assert(t.head == 0.0)
      assert(t.forall(p => p >= 0.0 && p <= 1.0))
      assert(t.tail.toSeq.sliding(2).forall {
        case Seq(a, b) => b >= a - 1e-12
        case _ => true
      })
    }
  }
}
