package graft

import graft.SparkSpecBase

/** SURVEY §7.0: every table is also queryable through spark.sql, with
  * the library's custom functions injected by the session's
  * [[GraftExtensions]].
  */
class SqlSurfaceSpec extends SparkSpecBase {

  test("temp views + registered functions cover the SQL surface") {
    Tables.registerViews(spark, sf("sf0.001"))

    val daily = spark.sql("""
      SELECT CAST(ts AS DATE) AS d, count(*) AS n,
        count(DISTINCT user_id) AS u
      FROM events GROUP BY 1 ORDER BY 1""")
    assert(daily.count() === 30)

    val knn = spark.sql("""
      SELECT count(*) FROM (
        SELECT a.vec_id,
          dot_product(CAST(a.embedding AS ARRAY<DOUBLE>),
                      CAST(b.embedding AS ARRAY<DOUBLE>)) AS dp
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        LIMIT 100)""").head().getLong(0)
    assert(knn === 100)

    val joined = spark.sql("""
      SELECT r_name, count(*) AS n FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1""")
    assert(joined.count() === 5)

    // unicode_normalize: default NFC; explicit form literal; composition
    // provable from the codepoint count.
    val norm = spark.sql(
      "SELECT unicode_normalize('café') AS c, " +
        "length(unicode_normalize('café')) AS n, " +
        "length(unicode_normalize('café', 'NFD')) AS d").head()
    assert(norm.getString(0) == "café")
    assert(norm.getInt(1) == 4 && norm.getInt(2) == 5)
  }
}
