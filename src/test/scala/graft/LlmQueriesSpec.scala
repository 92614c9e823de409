package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.LlmQueries
import graft.operators.{TextOps, VectorOps}

/** Semantic invariants of the LLM-data-pipeline operators (fixture-level
  * correctness lives in the DuckDB oracle gate; these pin the *laws*).
  */
class LlmQueriesSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"


  test("exact dedup: fingerprints are unique in output and cover all docs") {
    val out = LlmQueries.q14DedupExact(spark, sf).cache()
    val n = out.count()
    assert(out.select("fingerprint").distinct().count() === n)
    val total = out.agg(sum("group_size")).head.getLong(0)
    assert(total === Tables.documents(spark, sf).count())
    out.unpersist()
  }

  test("bag dedup collapses token-shuffled copies but never loses docs") {
    val exact = LlmQueries.q14DedupExact(spark, sf).count()
    val bag = LlmQueries.q15DedupBag(spark, sf).cache()
    assert(bag.count() < exact) // corpus has planted shuffled duplicates
    assert(bag.agg(sum("group_size")).head.getLong(0) ===
      Tables.documents(spark, sf).count())
    bag.unpersist()
  }

  test("near-dup pairs are symmetric-free, above threshold, and Jaccard-consistent") {
    val rows = LlmQueries.q16NearDupLsh(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (i, u, j) = (r.getInt(2), r.getInt(3), r.getDouble(4))
      assert(a < b)
      assert(j >= 0.8 && j <= 1.0)
      assert(math.abs(j - i.toDouble / u) < 1e-15)
    }
  }

  test("cosine top-k: ranks contiguous from 1, cosine non-increasing per query, self excluded") {
    val ss = spark; import ss.implicits._
    val rows = LlmQueries.q18CosineTopK(spark, sf)
      .select($"qid", $"rank", $"neighbor_id", $"cosine")
      .collect().groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to sorted.length))
      assert(sorted.forall(_.getLong(2) != qid))
      val cs = sorted.map(_.getDouble(3)).toSeq
      assert(cs === cs.sorted.reverse)
      assert(cs.forall(c => c >= -1.0000001 && c <= 1.0000001))
    }
  }

  test("ANN buckets: every returned neighbor shares the query's bucket") {
    val ss = spark; import ss.implicits._
    val planes = VectorOps.rademacherPlanes(4, 64)
    val buckets = Tables.embeddings(spark, sf)
      .select($"vec_id", VectorOps.signLshBucket(
        VectorOps.scaled($"embedding"), planes).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = LlmQueries.q19AnnLsh(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, bucket, nid) = (r.getLong(0), r.getString(1), r.getLong(3))
      assert(buckets(qid) === bucket)
      assert(buckets(nid) === bucket)
    }
  }

  test("ANN results are a subset-consistent projection of brute force within the bucket") {
    // Per ANN gate: every returned (qid, neighbor_id, cosine) carries the
    // pair's exact integer-scaled cosine, and each query's top-1 cosine is
    // <= q18's top-1 (brute force searches a superset). q31 is q18
    // re-ranked by the native top-k: the same rows minus the rank column.
    val ss = spark; import ss.implicits._
    val sv = LlmQueries.vectorSketch(Tables.embeddings(spark, sf))
    val q18 = LlmQueries.q18CosineTopK(spark, sf)
    val bf = q18.filter($"rank" === 1).select($"qid", $"cosine")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Seq(
      "q19" -> LlmQueries.q19AnnLsh(spark, sf),
      "q30" -> LlmQueries.q30AnnMultiprobe(spark, sf),
      "q32" -> LlmQueries.q32AnnIvf(spark, sf)
    ).foreach { case (gate, ann) =>
      val inexact = ann
        .join(sv.select($"vec_id".as("qid"), $"v".as("qv"), $"nsq".as("qn")), "qid")
        .join(sv.select($"vec_id".as("neighbor_id"), $"v", $"nsq"), "neighbor_id")
        .filter(VectorOps.cosineFromParts(VectorOps.dotL($"qv", $"v"), $"qn", $"nsq") =!= $"cosine")
        .select($"qid", $"neighbor_id", $"cosine").collect()
      assert(inexact.isEmpty, s"$gate rows whose cosine is not the pair's exact cosine: ${inexact.mkString(", ")}")
      val top1 = ann.groupBy($"qid").agg(max($"cosine"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
      assert(top1.nonEmpty, s"$gate returned no neighbours")
      top1.foreach { case (qid, c) =>
        assert(c <= bf(qid) + 1e-12, s"$gate qid $qid top-1 $c exceeds brute force ${bf(qid)}")
      }
    }
    assert(LlmQueries.q31TopkNative(spark, sf).collect().toSeq ===
      q18.drop("rank").collect().toSeq)
  }

  test("ANN recall@3 vs exact top-k: multi-probe dominates single-probe; floors hold") {
    // The hash gates (q19/q30/q32) prove determinism, not retrieval
    // QUALITY — a silently-degraded bucket scheme would still hash-match
    // its own oracle. Recall@3 against q18's exact top-3 is the quality
    // law: per query, |ANN top-3 ∩ exact top-3| / |exact top-3|.
    val ss = spark; import ss.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(LlmQueries.q18CosineTopK(spark, sf).filter($"rank" <= 3))
    val single = pairs(LlmQueries.q19AnnLsh(spark, sf))
    val multi = pairs(LlmQueries.q30AnnMultiprobe(spark, sf))
    val ivf = pairs(LlmQueries.q32AnnIvf(spark, sf))
    val ivf2 = pairs(LlmQueries.annIvf(spark, sf, nprobe = 2))
    def recall(ann: Set[(Long, Long)]) = (ann & exact).size.toDouble / exact.size
    val (rSingle, rMulti, rIvf, rIvf2) =
      (recall(single), recall(multi), recall(ivf), recall(ivf2))
    info(f"recall@3 vs exact: single-probe LSH=$rSingle%.3f multi-probe LSH=$rMulti%.3f IVF(nprobe=1)=$rIvf%.3f IVF(nprobe=2)=$rIvf2%.3f")
    assert(rMulti >= rSingle) // probing Hamming-1 buckets never loses recall
    assert(multi.size >= single.size) // candidate superset -> >= results
    assert(rIvf2 >= rIvf) // a second probed cell only widens candidates
    // Absolute floors (numbers + context in COVERAGE.md). The testdata
    // embeddings are structure-free random vectors (within-label and
    // cross-label mean cosine both ≈ 0), so the no-structure baseline for
    // recall@k is the probed corpus fraction: 1/16 buckets ≈ 0.06 single
    // probe, 5/16 ≈ 0.31 multi-probe. Measured (deterministic on this
    // data): 0.167 / 0.400 / 0.300 — a 1.3–2.7× sign-correlation lift
    // over the baseline, which IS the retrieval signal on random data;
    // floors sit between the baseline and the measurement so any silent
    // bucket-scheme regression (hash change, probe loss, plane drift)
    // trips them while honest refactors do not.
    assert(rSingle >= 0.15, f"single-probe recall $rSingle%.3f below floor")
    assert(rMulti >= 0.35, f"multi-probe recall $rMulti%.3f below floor")
    assert(rIvf >= 0.25, f"IVF recall $rIvf%.3f below floor")
  }

  test("text stats: ratios bounded, quality in [0,1], token counts positive") {
    val rows = LlmQueries.q17TextStats(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val nTok = r.getInt(3); val nUniq = r.getInt(4)
      val ttr = r.getDouble(6); val q = r.getDouble(9)
      assert(nTok > 0 && nUniq > 0 && nUniq <= nTok)
      assert(ttr > 0 && ttr <= 1.0)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("token packing de-skews a dominant source: content-hash shards fan the " +
      "prefix-sum window out; bins stay deterministic under resharding") {
    // the 100 TB failure shape the shard column exists for: one crawl
    // holds 85% of the corpus, so an unsharded (split, source) window
    // key would funnel 85% of the data through ONE sequential prefix-sum
    // task. Synthetic fixture (not sf0.001 — its sources are balanced;
    // the law needs the pathological distribution).
    val ss = spark; import ss.implicits._
    import graft.operators.{Sampling, TokenPacking}
    val docs0 = spark.range(3000).select(
      $"id".as("doc_id"),
      when($"id" % 20 < 17, "crawl")
        .otherwise(concat(lit("src"), $"id" % 3)).as("source"),
      concat(lit("doc "), $"id", lit(" body "),
        md5($"id".cast("string"))).as("text"))
    val norm = TextOps.normText($"text")
    val bucket = Sampling.hash60(norm) % 100
    val docs = docs0.select($"doc_id", $"source",
      size(TextOps.tokens(norm)).as("n_tokens"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        .as("split"),
      TokenPacking.shard(norm).as("shard")).cache()

    // window-partition population per key, sharded vs unsharded spelling
    val sharded = docs.groupBy($"split", $"source", $"shard").count()
      .agg(max($"count")).head.getLong(0)
    val unsharded = docs.groupBy($"split", $"source").count()
      .agg(max($"count")).head.getLong(0)
    val crawlShards = docs.filter($"source" === "crawl")
      .select($"shard").distinct().count()
    assert(unsharded >= (3000 * 0.8 * 0.85 * 0.9).toLong,
      s"fixture lost its dominant source (max unsharded partition $unsharded)")
    assert(crawlShards >= TokenPacking.Shards - 2,
      s"dominant source landed in only $crawlShards shards")
    // the serialized run is bounded by ~1/Shards of the stream: allow 2×
    // the ideal share for hash variance
    assert(sharded <= 2 * unsharded / TokenPacking.Shards + 1,
      s"max sharded window partition $sharded vs unsharded $unsharded — " +
        "the shard column is not fanning the dominant source out")

    // bins are a pure function of content: identical under resharding
    val stream = Seq("split", "source", "shard")
    val a = TokenPacking.pack(docs, 512, stream).collect().toSet
    val b = TokenPacking.pack(docs.repartition(7), 512, stream).collect().toSet
    assert(a === b, "packing must be reshard-invariant")
    assert(a.nonEmpty)
    docs.unpersist()
  }

  test("minhash signature is permutation-invariant over shingle sets") {
    val ss = spark; import ss.implicits._
    val df = Seq(
      (1L, Array("a b c", "b c d", "c d e")),
      (2L, Array("c d e", "a b c", "b c d"))).toDF("id", "sh")
    val sigs = df.select($"id", TextOps.minhashSignature($"sh", 9).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) === sigs(2L))
  }

  test("simhash packed-long band keys and bit_count hamming agree with the " +
      "oracle's 64-char string spelling (q27's rewrite law)") {
    val ss = spark; import ss.implicits._
    // adversarial bit patterns: sign bit, band boundaries, all-ones/zeros
    val vals = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue,
      0x8000000000000001L, 0x0000FFFF0000FFFFL, 0x123456789ABCDEF0L,
      -42L, 7L << 15, 1L << 16, 1L << 63 | 1L << 31)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    // the string the oracle builds: char i (1-based) = bit i-1 of the long
    val asStr = concat((0 until 64).map(p =>
      when(shiftright($"s", p).bitwiseAND(1) === 1, "1").otherwise("0")): _*)
    val rows = df.select($"id", $"s", asStr.as("str"),
      array((0 until 4).map(b => struct(
        shiftrightunsigned($"s", 16 * b).bitwiseAND(0xFFFFL).as("bkLong"),
        substring(asStr, 1 + 16 * b, 16).as("bkStr"))): _*).as("bands"))
      .localCheckpoint()
    val strHam = (1 to 64).map(i =>
      when(substring($"x.str", i, 1) =!= substring($"y.str", i, 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    val checked = rows.as("x").crossJoin(rows.as("y")).select(
      ((0 until 4).map(b =>
        (($"x.bands"(b)("bkLong") === $"y.bands"(b)("bkLong")) ===
          ($"x.bands"(b)("bkStr") === $"y.bands"(b)("bkStr"))).as(s"band$b")) :+
        (bit_count($"x.s".bitwiseXOR($"y.s")).cast("long") === strHam)
          .as("ham")): _*)
      .collect()
    assert(checked.length === vals.length * vals.length)
    assert(checked.forall(r => (0 until 5).forall(r.getBoolean)),
      "a band-key or hamming spelling diverged from the string semantics")
  }

  test("simhash single 16-hex conv decode carries the identical 64 bits as " +
      "the two 8-hex decodes (q27's round-18 rewrite law)") {
    val ss = spark; import ss.implicits._
    // adversarial hex: leading nibble ≥ 8 (the packed long's sign bit —
    // conv's signed −10 toBase must round-trip it through the cast, not
    // overflow to null), all-ones/zeros, half boundaries, plus real md5s
    val hexes = Seq(
      "ffffffffffffffff", "0000000000000000", "8000000000000000",
      "7fffffffffffffff", "80000000ffffffff", "ffffffff00000000",
      "00000000ffffffff", "0123456789abcdef", "fedcba9876543210") ++
      Seq("a", "b c d", "shingle text").map(s =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16))
    val rows = hexes.toDF("hex").select(
      conv(substring($"hex", 1, 16), 16, -10).cast("long").as("h"),
      conv(substring($"hex", 1, 8), 16, 10).cast("long").as("i1"),
      conv(substring($"hex", 9, 8), 16, 10).cast("long").as("i2")).collect()
    assert(rows.length === hexes.length)
    rows.foreach { r =>
      assert(!r.isNullAt(0), "single-conv decode overflowed to null")
      val (h, i1, i2) = (r.getLong(0), r.getLong(1), r.getLong(2))
      (0 until 32).foreach { j =>
        assert(((h >>> (32 + j)) & 1L) === ((i1 >> j) & 1L),
          s"bit $j of i1 (= bit ${32 + j} of h) diverged for h=$h")
        assert(((h >>> j) & 1L) === ((i2 >> j) & 1L),
          s"bit $j of i2 (= bit $j of h) diverged for h=$h")
      }
    }
  }

  test("each modality's admission distributes over index segments: a fixed " +
      "batch admits the same id-sorted rows against its index as 1, 2 and 3 segments") {
    val ss = spark; import ss.implicits._
    import graft.operators.Sampling
    // the soundness argument behind StandingIndex's O(batch) fold
    // (q89/q90/q91): probing segment-by-segment admits exactly what one
    // probe of the concatenated index admits — so how history happened
    // to arrive (one bulk load vs many folds) can never change an
    // admission decision
    val docs = Tables.documents(spark, sf)
    val incoming = Sampling.uniform01($"doc_id") < 0.3
    val fp = docs.select($"doc_id",
      TextOps.bagFingerprint(TextOps.normText($"text")).as("fingerprint")).localCheckpoint()
    val sh = LlmQueries.shingleDocs(docs).localCheckpoint()
    val (batchSh, corpusSh) = (sh.filter(incoming), sh.filter(!incoming))
    val probe = LlmQueries.minhashBands(batchSh).localCheckpoint()
    val sv = LlmQueries.vectorSketch(Tables.embeddings(spark, sf)).localCheckpoint()
    val vecIncoming = Sampling.uniform01($"vec_id") < 0.3
    // (modality, index rows, the id column segments split on, segments
    // => id-sorted admissions)
    val modalities: Seq[(String, DataFrame, String, Seq[DataFrame] => DataFrame)] = Seq(
      ("fingerprint", fp.filter(!incoming), "doc_id",
        LlmQueries.admitByFingerprint(fp.filter(incoming), _).orderBy($"doc_id")),
      ("band", LlmQueries.minhashBands(corpusSh).localCheckpoint(), "doc_id",
        LlmQueries.admitByBandFrame(batchSh, probe, _, corpusSh).orderBy($"doc_id")),
      ("vector", LlmQueries.vectorIndexRows(sv.filter(!vecIncoming)), "blocker",
        LlmQueries.admitByVectorSegments(sv.filter(vecIncoming), _)
          .select($"vec_id", $"bucket").orderBy($"vec_id")))
    val broken = modalities.flatMap { case (name, index, id, admit) =>
      def rows(k: Int) =
        admit((0 until k).map(i => index.filter(col(id) % k === i))).collect().toSeq
      val whole = rows(1)
      // non-vacuous: the index blocks at least one batch member
      val unblocked = admit(Seq(index.filter(lit(false)))).count()
      assert(unblocked > whole.size, s"$name: the index blocks nothing")
      Seq(2, 3).filter(rows(_) != whole).map(k => s"$name at $k segments")
    }
    assert(broken.isEmpty, s"admissions differ from the one-segment index: $broken")
  }
}
