package graft.functions

import graft.SparkTestBase

class RegistrySpec extends SparkTestBase {

  test("custom expressions callable from SQL") {
    val row = spark.sql(
      """SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw,
                poly_hash('hello world') AS ph,
                vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                        array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dp,
                sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS n
      """).collect()(0)
    assert(row.getAs[Double]("jw") === 0.9611111111111111)
    assert(row.getAs[Long]("ph") === PolyHash.hash("hello world"))
    assert(row.getAs[Double]("dp") === 11.0)
    assert(row.getAs[Int]("n") === 2)
  }

  test("vec_dot: a null ELEMENT nulls the fold, matching the zip_with reference") {
    // double(null) * y is null and the + fold swallows the sum — the
    // native expression must agree with the composable form, not read
    // the slot's raw bits as a number
    val row = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)),
                        array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS d,
                aggregate(zip_with(
                    array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)),
                    array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE)),
                    (x, y) -> x * y),
                  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS ref
      """).collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("window_digests from SQL: raw md5 per window, distinct mode, null input") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02X".format(_)).mkString
    val row = spark.sql(
      """SELECT transform(window_digests(array('a', 'b', 'a', 'b'), 2),
                          d -> hex(d)) AS all2,
                transform(window_digests(array('a', 'b', 'a', 'b'), 2, true),
                          d -> hex(d)) AS dist2,
                window_digests(CAST(NULL AS array<string>), 2) AS nul,
                window_digests(array('a'), 2) AS short
      """).collect()(0)
    assert(row.getSeq[String](0) === Seq("a b", "b a", "a b").map(md5hex))
    assert(row.getSeq[String](1) === Seq("a b", "b a").map(md5hex))
    assert(row.getSeq[Array[Byte]](2).isEmpty && row.getSeq[Array[Byte]](3).isEmpty)
  }
}
