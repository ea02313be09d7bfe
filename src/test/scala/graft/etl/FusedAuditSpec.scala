package graft.etl

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The round-7 fused audit (`rowLocalWithEventTypes` — row-local battery
  * grouped on the invalid event value) must be RESULT-identical to the
  * separate plain-aggregate + `invalidEventTypes` pair it replaced, on a
  * frame exercising every grouping edge: null event types, empty
  * strings, case/whitespace normalization, multiple distinct invalid
  * values, and rows carrying the other audit violations.
  */
class FusedAuditSpec extends SparkSpecBase {

  private lazy val raw = {
    import spark.implicits._
    Seq(
      // (event_type, collection, token_id, tx, timestamp, price_total,
      //  price_each, quantity, seller)
      ("sale", "c1", "1", "t1", "1650000000", "1.0", "1.0", "1",
        "0x" + "a" * 40),
      ("SALE  ", "c1", "2", "t2", "1650000001", "2.0", "2.0", "1",
        "0x" + "b" * 40),
      ("transfer", "c2", "3", "t3", "1650000002", "0.0", "0.0", "1",
        "0x" + "c" * 40),
      ("mint", null, "4", "t4", "1650000003", "-1.0", "-1.0", "1",
        "0x" + "d" * 40),                       // negative price + null coll
      ("airdrop", "c2", "5", "t5", "1650000004", "1.0", "1.0", "1",
        "not-an-address"),                      // invalid type + bad addr
      ("airdrop", "c2", "6", "t6", "99", "1.0", "1.0", "1",
        "0x" + "e" * 40),                       // invalid type + ts range
      ("burn", "c3", "7", "t7", "1650000006", "1.0", "0.5", "2",
        "0x" + "f" * 40),                       // second invalid value
      (null, "c3", "8", "t8", "1650000007", "1.0", "1.0", "1",
        "0x" + "1" * 40),                       // null event type
      ("", "c3", "9", "t9", "1650000008", "1.0", "1.0", "1",
        "0x" + "2" * 40)                        // empty-string event type
    ).toDF("event_type", "collection", "token_id", "tx", "timestamp",
      "price_total", "price_each", "quantity", "seller")
  }

  test("fused audit == plain row-local aggregate + invalidEventTypes") {
    val (fusedGet, fusedEvt) = DataValidator.rowLocalWithEventTypes(raw)
    val exprs = DataValidator.rowLocalAuditExprs(raw)
    val plain = raw.agg(exprs.head, exprs.tail: _*).head()
    plain.schema.fieldNames.foreach { name =>
      assert(fusedGet(name) === plain.getAs[Long](name),
        s"metric $name diverged")
    }
    assert(fusedEvt === DataValidator.invalidEventTypes(raw))
    // the fixture's planted facts, so the test fails loudly if the
    // fixture stops exercising the edges
    assert(fusedEvt === Map("airdrop" -> 2L, "burn" -> 1L, "<null>" -> 1L,
      "" -> 1L))
    assert(fusedGet("__total") === 9L)
    assert(fusedGet("__neg") === 1L)
  }

  test("fused audit on a frame without event_type degrades to plain agg") {
    val noEvt = raw.drop("event_type")
    val (get, evt) = DataValidator.rowLocalWithEventTypes(noEvt)
    assert(evt.isEmpty)
    assert(get("__total") === 9L)
  }

  test("round-8 one-action fusion == the three separate audits") {
    // plant two duplicate (tx, token_id, event_type, timestamp) keys on
    // top of the base fixture so the dup-count side is non-trivial
    val withDups = raw.unionByName(raw.limit(2))
    val (get, dup, evt) = DataValidator.allShuffleAudits(withDups)
    val (sepGet, sepEvt) = DataValidator.rowLocalWithEventTypes(withDups)
    val sepDup = DataValidator.duplicateKeyCount(withDups)
    val exprs = DataValidator.rowLocalAuditExprs(withDups)
    withDups.agg(exprs.head, exprs.tail: _*).head()
      .schema.fieldNames.foreach { name =>
        assert(get(name) === sepGet(name), s"metric $name diverged")
      }
    assert(dup === sepDup)
    assert(dup === 2L)
    assert(evt === sepEvt)
    assert(get("__total") === 11L)
  }

  test("one-action fusion without event_type still carries dup count") {
    val noEvt = raw.unionByName(raw.limit(2)).drop("event_type")
    val (get, dup, evt) = DataValidator.allShuffleAudits(noEvt)
    assert(evt.isEmpty)
    assert(get("__total") === 11L)
    // dedup key degrades to (tx, token_id, timestamp): same 2 dups
    assert(dup === 2L)
  }

  test("translate-based address audit == rlike(Schemas.addressRegex)") {
    import spark.implicits._
    val hex40 = "0123456789abcdef" * 2 + "01234567"
    val sellers = Seq[String](
      "0x" + hex40,                          // valid, lower case
      "0x" + hex40.toUpperCase,              // valid, upper case
      "0x" + "aBcDeF0123" * 4,               // valid, mixed case
      "0x" + hex40.take(39),                 // 41 chars
      "0x" + hex40 + "a",                    // 43 chars
      "0X" + hex40,                          // upper-case prefix
      "  0x" + hex40 + " ",                  // space-padded: valid after trim
      "0x" + hex40.take(39) + "g",           // one non-hex char
      // control-character suffixes (quoted CSV fields can carry them):
      // invalid, since the reference's regex `$` is end of text, and
      // trim strips only spaces
      "0x" + hex40 + "\n",
      "0x" + hex40 + "\r\n",
      "0x" + hex40 + "\t",
      "",                                    // empty: not audited
      null)                                  // null: not audited
    // the battery also reads the price and timestamp columns
    val df = sellers.toDF("seller")
      .select(col("seller"), lit("1650000000").as("timestamp"),
        lit("1.0").as("price_total"), lit("1.0").as("price_each"),
        lit("1").as("quantity"))
    val exprs = DataValidator.rowLocalAuditExprs(df)
    val translated = df.agg(exprs.head, exprs.tail: _*).head()
      .getAs[Long]("__addr_seller")
    val t = trim(col("seller"))
    val regex = df.where(col("seller").isNotNull && t =!= "" &&
      !t.rlike(Schemas.addressRegex)).count()
    assert(translated === regex)
    assert(regex === 7L) // 41, 43, 0X, non-hex, \n, \r\n, \t
  }
}
