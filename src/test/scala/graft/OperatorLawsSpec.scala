package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOf, ConnectedComponents, PrefixSum, TopK}

/** Property-based laws for the round-3 operators, checked against
  * straight-line Scala reference models on randomized inputs — the
  * operators must agree with the obviously-correct implementation on
  * every draw, not just on the curated fixtures.
  */
class OperatorLawsSpec extends AnyFunSuite with LocalSpark {

  test("TopK.perKey equals the sort-take reference model on random data") {
    val ss = spark; import ss.implicits._
    val rowGen = for {
      k <- Gen.choose(0, 5)
      score <- Gen.choose(0, 20)
      id <- Gen.choose(0, 1000000)
    } yield (k, score, id)
    val gen = for {
      rows <- Gen.listOfN(60, rowGen)
      topk <- Gen.choose(1, 4)
    } yield (rows.zipWithIndex.map { case ((k, s, _), i) => (k, s, i) }, topk)
    val prop = Prop.forAll(gen) { case (rows, k) =>
      val expected = rows.groupBy(_._1).values.flatMap { grp =>
        grp.sortBy(r => (-r._2, r._3)).take(k) // score desc, id asc
      }.toSet
      val got = TopK.perKey(rows.toDF("k", "score", "id"),
          Seq($"k"), Seq($"score".desc, $"id".asc), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("AsOf.joinLatest equals the per-row latest-at-or-before reference model") {
    val ss = spark; import ss.implicits._
    val rowGen = for {
      key <- Gen.choose(0L, 3L)
      ts <- Gen.choose(0L, 30L)
      isRight <- Gen.oneOf(true, false)
    } yield (key, ts, isRight)
    val gen = Gen.listOfN(40, rowGen).map(_.zipWithIndex.map {
      case ((k, ts, r), i) => (k, ts, i.toLong, r)
    })
    val prop = Prop.forAll(gen) { rows =>
      val lefts = rows.filterNot(_._4).map(r => (r._1, r._2, r._3))
      val rights = rows.filter(_._4).map(r => (r._1, r._2, r._3))
      (lefts.nonEmpty, rights.nonEmpty) match {
        case (true, true) =>
          // reference: max (ts, seq) right row with ts <= left ts, same key
          val expected = lefts.map { case (k, ts, seq) =>
            val cand = rights.filter(r => r._1 == k && r._2 <= ts)
            val best = if (cand.isEmpty) None
              else Some(cand.maxBy(r => (r._2, r._3))._3)
            (seq, best)
          }.toSet
          val out = AsOf.joinLatest(
              lefts.toDF("k", "ts", "seq"),
              rights.toDF("k", "ts", "seq")
                .withColumn("pay_seq", col("seq")),
              keys = Seq("k"), tsCol = "ts", seqCol = "seq",
              payloadCols = Seq("pay_seq"))
            .collect().map(r => (r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
          out == expected
        case _ => true // degenerate draw: nothing to check
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  /** Straight-line union-find over (nodes, edges) — the obviously-correct
    * model: every node → its component's minimum id.
    */
  private def unionFindLabels(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-root union keeps the root the component minimum
    nodes.map(n => n -> find(n)).toMap
  }

  private def ccLabels(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIters: Int = 50): Map[Long, Long] = {
    val ss = spark; import ss.implicits._
    ConnectedComponents.labels(
        nodes.toDF("id"), edges.toDF("src", "dst"), maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ConnectedComponents labels a path graph deeper than any propagation cap") {
    // diameter-63 chain: min-label propagation at the old 20-round cap
    // would silently mislabel the tail; star alternation converges
    val nodes = (0L until 64L)
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = ccLabels(nodes, edges)
    assert(got === nodes.map(_ -> 0L).toMap)
  }

  test("ConnectedComponents equals the union-find model on random graphs") {
    val gen = for {
      n <- Gen.choose(1, 40)
      nEdges <- Gen.choose(0, 60)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield (n.toLong, edges)
    val prop = Prop.forAll(gen) { case (n, edges) =>
      val nodes = 0L until n
      // self-loops and duplicates are legal input; the operator must
      // canonicalize them away
      ccLabels(nodes, edges) == unionFindLabels(nodes, edges)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("ConnectedComponents throws on non-convergence instead of returning labels") {
    val ex = intercept[IllegalStateException] {
      ccLabels(0L until 8L, (0L until 7L).map(i => (i, i + 1)), maxIters = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("ConnectedComponents with no edges labels every node itself") {
    val got = ccLabels(Seq(3L, 7L, 11L), Nil)
    assert(got === Map(3L -> 3L, 7L -> 7L, 11L -> 11L))
  }

  test("ConnectedComponents reliable-checkpoint mode matches localCheckpoint mode") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val nodes = (0L until 32L)
    val edges = (0L until 16L).map(i => (i, i + 1)) ++ Seq((20L, 25L), (25L, 30L))
    val durable = ConnectedComponents.labels(
        nodes.toDF("id"), edges.toDF("src", "dst"), reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable === ccLabels(nodes, edges))
    // the durable path actually wrote checkpoint data
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("PrefixSum.runningTotal equals the serial per-key window on random data, " +
      "independent of input partitioning") {
    val ss = spark; import ss.implicits._
    val rowGen = for {
      k <- Gen.oneOf("a", "b", "c")
      ord <- Gen.choose(0, 50)
      v <- Gen.choose(1, 100)
    } yield (k, ord, v)
    val gen = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, rowGen)
      parts <- Gen.choose(1, 7)
    } yield (rows, parts)
    val prop = Prop.forAll(gen) { case (rows, parts) =>
      // unique per-key order: (ord, id) with a synthetic unique id
      val df = rows.zipWithIndex
        .map { case ((k, o, v), i) => (k, o, i.toLong, v) }
        .toDF("k", "ord", "id", "v")
        .repartition(parts) // result must not depend on input layout
      val got = PrefixSum.runningTotal(df, Seq("k"), Seq("ord", "id"), "v", "cum")
        .select($"k", $"id", $"cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      // reference model: straight-line scan of the sorted rows
      val expect = rows.zipWithIndex
        .map { case ((k, o, v), i) => (k, o, i.toLong, v) }
        .groupBy(_._1).flatMap { case (_, g) =>
          val sorted = g.sortBy(r => (r._2, r._3))
          sorted.zip(sorted.scanLeft(0L)(_ + _._4).tail)
            .map { case (r, c) => (r._1, r._3) -> c }
        }
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("shardedEmbeddings isometry: within-shard dot products preserved " +
      "exactly; a vector's cross-shard replicas never pass the 0.4 confirm") {
    val ss = spark; import ss.implicits._
    val shards = 6
    val shardSize = 10000000L
    val vecs = graft.Tables.shardedEmbeddings(ss, "/root/testdata/sf0.001", shards)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // the engine's integer-scaled spelling (VectorOps.scaled/dotL):
    // long addition is associative, so a rotation of the coordinates
    // cannot perturb the sum — which is exactly why the isometry is
    // bit-exact on the engine's confirm path
    def scaled(a: Array[Float]): Array[Long] =
      a.map(x => (x.toDouble * 10000000.0).toLong)
    def dot(a: Array[Float], b: Array[Float]): Long =
      scaled(a).lazyZip(scaled(b)).map((x, y) => x * y).sum
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b).toDouble / math.sqrt(dot(a, a).toDouble * dot(b, b).toDouble)
    val baseIds = vecs.keys.filter(_ < shardSize).toSeq.sorted.take(8)
    for (k <- 1 until shards) {
      // the same permutation + sign applied to BOTH operands cancels:
      // every within-shard pairwise dot is bit-preserved, so the
      // replicated shard carries the base shard's near-dup structure
      for (i <- baseIds; j <- baseIds if i < j)
        assert(dot(vecs(i), vecs(j)) == dot(vecs(i + k * shardSize), vecs(j + k * shardSize)),
          s"within-shard dot must be preserved exactly (k=$k, pair=($i,$j))")
      // while a vector and its OWN replica in another shard decorrelate
      // (rotation) or invert (negation) below the semantic-dedup confirm
      // threshold, so cross-shard copies never read as near-duplicates
      // and dedup work grows linearly with the shard count
      for (i <- baseIds)
        assert(cos(vecs(i), vecs(i + k * shardSize)) < 0.4,
          s"cross-shard replica must not pass the 0.4 confirm (k=$k, id=$i)")
    }
  }
}
