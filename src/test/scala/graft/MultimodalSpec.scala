package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps

/** Multimodal binary plumbing: chunk fan-out reassembles losslessly, and
  * the batched decode boundary preserves row count, order, and
  * determinism (the shape a real decoder swaps into).
  */
class MultimodalSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"


  private def payloads = {
    val ss = spark; import ss.implicits._
    Tables.documents(spark, sf)
      .select($"doc_id", $"text".cast("binary").as("payload"))
  }

  test("chunk fan-out: counts match ceil(len/size) and chunks reassemble the payload") {
    val ss = spark; import ss.implicits._
    val chunked = MultimodalOps.chunked(payloads, "doc_id", "payload", 100)
    val counts = chunked.groupBy($"doc_id").agg(count(lit(1)).as("n"),
        sum(length($"chunk")).as("bytes"))
      .join(payloads.select($"doc_id", length($"payload").as("len")), "doc_id")
    // every doc: n == ceil(len/100), sum of chunk sizes == len
    assert(counts.filter($"n" =!= ceil($"len" / 100.0).cast("long")).count() === 0)
    assert(counts.filter($"bytes" =!= $"len").count() === 0)
    // reassembly: concat of chunks in index order == original payload
    val glued = chunked
      .groupBy($"doc_id")
      .agg(concat_ws("", sort_array(collect_list(struct($"chunk_idx",
        $"chunk".cast("string").as("c")))).getField("c")).as("re"))
      .join(payloads.select($"doc_id", $"payload".cast("string").as("orig")), "doc_id")
    assert(glued.filter($"re" =!= $"orig").count() === 0)
  }

  test("batched decode: one row per input, order-aligned ids, deterministic across batch sizes") {
    val ss = spark; import ss.implicits._
    val ds = payloads.as[(Long, Array[Byte])]
    val a = MultimodalOps.decodeStub(ds, batchSize = 7).collect().sortBy(_._1)
    val b = MultimodalOps.decodeStub(ds, batchSize = 500).collect().sortBy(_._1)
    assert(a.length === ds.count())
    assert(a.map(_._1).toSeq === ds.collect().map(_._1).sorted.toSeq)
    // batch size is an execution knob, never a semantic one
    assert(a.toSeq === b.toSeq)
    // stub dims bounded like a decoder's metadata would be
    assert(a.forall(r => r._2 >= 0 && r._2 < 640 && r._3 >= 0 && r._3 < 480))
  }
}
