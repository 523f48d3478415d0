package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.trace.JobTrace

/** Fixture-schema guard (round-8 verdict item 2): pins the CANONICAL
  * (post-`Tables.load`) Spark schema of every driver-provisioned table at
  * sf0.001 against the FIXTURES.md §1 contract.
  *
  * Why the loaded schema and not the raw parquet footer: the loader is
  * deliberately adaptive (events.ts has shipped as both TIMESTAMP(NANOS)
  * and timestamp[us] across driver re-provisions — round-8 headline), so
  * a footer change the loader absorbs is NOT a contract break. What the
  * 106-query corpus actually depends on is the canonical schema this
  * suite pins. When the driver re-provisions testdata incompatibly, this
  * suite fails FIRST with one readable message, instead of 14 opaque
  * golden-hash failures discovering it piecemeal.
  *
  * `Tables.load` reads through a memoized inferred schema; the last two
  * laws pin that the memo changes nothing a query sees and that a repeat
  * load costs no Spark job.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** table -> expected canonical schema as "col:type" (Spark simpleString). */
  private val expected: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey:int", "r_name:string"),
    "nation" -> Seq("n_nationkey:int", "n_name:string", "n_regionkey:int"),
    "customer" -> Seq("c_custkey:bigint", "c_name:string",
      "c_nationkey:int", "c_acctbal:double", "c_mktsegment:string"),
    "supplier" -> Seq("s_suppkey:bigint", "s_name:string",
      "s_nationkey:int", "s_acctbal:double"),
    "part" -> Seq("p_partkey:bigint", "p_name:string", "p_brand:string",
      "p_type:string", "p_size:int", "p_retailprice:double"),
    "orders" -> Seq("o_orderkey:bigint", "o_custkey:bigint",
      "o_orderstatus:string", "o_totalprice:double",
      "o_orderdate:timestamp_ntz", "o_orderpriority:string"),
    "lineitem" -> Seq("l_orderkey:bigint", "l_partkey:bigint",
      "l_suppkey:bigint", "l_linenumber:int", "l_quantity:double",
      "l_extendedprice:double", "l_discount:double", "l_tax:double",
      "l_returnflag:string", "l_linestatus:string",
      "l_shipdate:timestamp_ntz"),
    "events" -> Seq("event_id:bigint", "ts:timestamp_ntz",
      "user_id:bigint", "event_type:string", "value:double",
      "props:string"),
    "documents" -> Seq("doc_id:bigint", "text:string", "lang:string",
      "source:string", "n_chars:bigint"),
    "embeddings" -> Seq("vec_id:bigint", "embedding:array<float>",
      "label:int"))

  test("every fixture table loads to its FIXTURES.md canonical schema") {
    val diffs = Tables.names.flatMap { name =>
      val actual = Tables.load(spark, dir, name).schema
        .map(f => s"${f.name}:${f.dataType.simpleString}")
      val want = expected(name)
      if (actual == want) None
      else Some(
        s"""|  $name:
            |    expected ${want.mkString(", ")}
            |    actual   ${actual.mkString(", ")}""".stripMargin)
    }
    assert(diffs.isEmpty,
      "\nFIXTURE SCHEMA MISMATCH — /root/testdata was likely RE-PROVISIONED " +
        "by the driver.\nIf Tables.load can adapt (like the events.ts ns->us " +
        "branch), fix the loader; otherwise update FIXTURES.md SS1 and this " +
        "spec together.\n" + diffs.mkString("\n"))
  }

  test("fixture row counts at sf0.001 match FIXTURES.md") {
    val expectedRows = Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 150L,
      "supplier" -> 10L, "part" -> 200L, "orders" -> 1500L,
      "lineitem" -> 6000L, "events" -> 1000L, "documents" -> 500L,
      "embeddings" -> 500L)
    val diffs = expectedRows.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = Tables.load(spark, dir, name).count()
      if (got == want) None else Some(s"  $name: expected $want rows, got $got")
    }
    assert(diffs.isEmpty,
      "\nFIXTURE ROW-COUNT MISMATCH — testdata re-provisioned?\n" +
        diffs.mkString("\n"))
  }

  test("the memoized schema equals a fresh inference at sf0.001 and sf0.01") {
    val diffs = for {
      d <- Seq(dir, dir.replace("sf0.001", "sf0.01"))
      name <- Tables.names
      fresh = spark.read.parquet(Tables.path(d, name))
      want = Tables.canonical(name, fresh).schema
      got = Tables.load(spark, d, name).schema
      if got != want
    } yield s"  $d/$name:\n    inferred $want\n    loaded   $got"
    assert(diffs.isEmpty, "\n" + diffs.mkString("\n"))
  }

  test("a repeat Tables.load starts no Spark job") {
    Tables.names.foreach(Tables.load(spark, dir, _))
    val (_, w) = JobTrace.once(spark) {
      Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
    }
    assert(w.jobs.isEmpty, s"${w.jobs.size} Spark job(s) started by repeat loads")
  }
}
