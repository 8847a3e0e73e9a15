package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Loud early-warning for generator drops that change table shapes.
  *
  * Round 10's testdata regeneration silently switched `events.ts` from
  * parquet timestamp[ns] to timestamp[us] and broke stream/batch parity
  * three specs downstream of the actual cause. This spec asserts the
  * POST-LOAD contract of every table (names, types, order — nullability
  * excluded: the generator's writer may legally flip it), so the next
  * encoding or column drift fails HERE with the table named, not in
  * whatever operator happens to consume the changed column first.
  * `Tables.load` is the asserted surface because that is the contract
  * every operator programs against: events arrives with `ts` as BIGINT
  * nanos whatever the on-disk encoding, through `Tables.eventsNanos`,
  * the one projection batch loads and `Tables.loadStream` share.
  */
class SchemaGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def shape(name: String): Seq[(String, DataType)] =
    Tables.load(spark, dir, name).schema.map(f => (f.name, f.dataType)).toSeq

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    // ts: BIGINT nanos is the POST-LOAD contract whatever the drop encodes
    "events" -> Seq("event_id" -> LongType, "ts" -> LongType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  test("every testdata table matches its post-load contract (names, types, order)") {
    Tables.names.foreach { name =>
      val got = shape(name)
      // ArrayType equality includes containsNull; normalize it away like
      // struct nullability (writer-dependent, semantically irrelevant here)
      def norm(t: DataType): DataType = t match {
        case ArrayType(el, _) => ArrayType(norm(el), containsNull = true)
        case other => other
      }
      // expected.get, not apply: a table added to Tables.names before this
      // spec learns its contract should fail with a named, actionable
      // message, not a bare NoSuchElementException (ADVICE r11)
      val exp = expected.getOrElse(name,
        fail(s"table '$name' is registered in Tables.names but has no " +
          "contract here — add its (column, type) list to SchemaGuardSpec"))
      val gotN = got.map { case (n, t) => (n, norm(t)) }
      val expN = exp.map { case (n, t) => (n, norm(t)) }
      assert(gotN == expN,
        s"table '$name' drifted from its contract:\n  got      $gotN\n  expected $expN\n" +
          "If the generator changed the on-disk shape, update the loaders " +
          "(Tables.scala) and every consumer BEFORE updating this spec.")
    }
  }
}
