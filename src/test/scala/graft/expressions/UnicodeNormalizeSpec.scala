package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._
  import UnicodeNormalizeCol.unicode_normalize

  private val composed = "Caf\u00e9"        // é as one codepoint
  private val decomposed = "Cafe\u0301"     // e + combining acute

  test("NFC composes, NFD decomposes, both idempotent") {
    val df = Seq((1L, composed), (2L, decomposed)).toDF("id", "s")
    val out = df.select(col("id"),
        unicode_normalize(col("s")).as("nfc"),
        unicode_normalize(col("s"), "NFD").as("nfd"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == composed)
    assert(out(1).getString(1) == composed)
    assert(out(0).getString(2) == decomposed)
    assert(out(1).getString(2) == decomposed)
  }

  test("NFKC folds compatibility characters, NFC does not") {
    val lig = "\ufb01le" // \ufb01 ligature + "le"
    val df = Seq(Tuple1(lig)).toDF("s")
    val r = df.select(unicode_normalize(col("s")).as("nfc"),
      unicode_normalize(col("s"), "NFKC").as("nfkc")).head()
    assert(r.getString(0) == lig)
    assert(r.getString(1) == "file")
  }

  test("null and ASCII fast paths") {
    val df = Seq((1L, "plain ascii"), (2L, null))
      .toDF("id", "s")
    val out = df.select(col("id"), unicode_normalize(col("s")).as("n"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "plain ascii")
    assert(out(1).isNullAt(1))
  }

  test("registered SQL function, default and explicit form") {
    graft.GraftFunctions.install(spark)
    val got = spark.sql(
      s"SELECT unicode_normalize('$decomposed') AS a, " +
        s"unicode_normalize('$composed', 'NFD') AS b").head()
    assert(got.getString(0) == composed)
    assert(got.getString(1) == decomposed)
    val err = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'BOGUS')").collect()
    }
    assert(err.getMessage.contains("BOGUS") ||
      err.getCause != null)
  }

  test("normalization changes hash identity — the dedup motivation") {
    val df = Seq((1L, composed), (2L, decomposed)).toDF("id", "s")
    val raw = df.select(xxhash64(col("s")).as("h")).distinct().count()
    val norm = df.select(xxhash64(unicode_normalize(col("s"))).as("h"))
      .distinct().count()
    assert(raw == 2 && norm == 1)
  }
}
