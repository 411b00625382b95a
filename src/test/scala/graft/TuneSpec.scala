package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Tune's argument contract: a missing or unknown mode fails fast with
  * the accepted modes named, before any Spark session exists.
  */
class TuneSpec extends AnyFunSuite {
  private val modes = Seq("pv1000", "mhrv", "mhrv10", "mhrv30", "spillp")

  private def rejected(args: String*): IllegalArgumentException = {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](Tune.main(args.toArray))
    assert(SparkSession.getDefaultSession === before,
      "an argument error must not build a session")
    modes.foreach(m => assert(e.getMessage.contains(m), s"mode $m not named"))
    e
  }

  test("Tune rejects an unknown mode, naming the five modes") {
    assert(rejected("/nonexistent", "bogus").getMessage.contains("'bogus'"))
  }

  test("Tune rejects a missing mode, naming the five modes") {
    rejected("/nonexistent")
  }
}
