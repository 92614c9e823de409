package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Smt

/** SMT transform laws not already exercised by the CORRECTNESS gate
  * (q08 covers valueToKey/insertFields/renameFields end-to-end; this
  * closes the untested excludeFields and the compose behavior).
  */
class SmtSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus: Int = 2

  test("excludeFields drops exactly the listed columns and keeps values intact") {
    val ss = spark; import ss.implicits._
    val df = Seq((1, "a", 2.0, "x"), (2, "b", 3.0, "y"))
      .toDF("id", "name", "amount", "internal")
    val out = df.transform(Smt.excludeFields("internal", "amount"))
    assert(out.columns.toSeq === Seq("id", "name"))
    assert(out.collect().map(_.toString).sorted.toSeq === Seq("[1,a]", "[2,b]"))
    // dropping a nonexistent column is a no-op, like the Connect SMT
    assert(df.transform(Smt.excludeFields("nope")).columns.toSeq === df.columns.toSeq)
  }

  test("SMT chain composes: valueToKey + insertFields + rename + exclude") {
    val ss = spark; import ss.implicits._
    val df = Seq((10, "Gois", 5.99)).toDF("address_id", "district", "amount")
    val out = df
      .transform(Smt.valueToKey("address_id"))
      .transform(Smt.insertFields("message_source" -> "pagila", "environment" -> "dev"))
      .transform(Smt.renameFields("district" -> "state_province"))
      .transform(Smt.excludeFields("amount"))
    assert(out.columns.toSeq ===
      Seq("address_id", "state_province", "key", "message_source", "environment"))
    val r = out.head
    assert(r.getAs[String]("key") === "10")
    assert(r.getAs[String]("state_province") === "Gois")
    assert(r.getAs[String]("message_source") === "pagila")
  }
}
