package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TokenWindows
import graft.operators.TextOps

/** token_windows: both modes against the lambda formulations they
  * replaced (`concat_ws` over `element_at`, `array_join` over `slice`,
  * `md5` of the joined text) on generated token arrays, its null and
  * short-array contract, and SQL resolution through GraftExtensions.
  */
class TokenWindowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // empty tokens (what a double space splits into), multi-byte UTF-8 of
  // 2, 3 and 4 bytes, and null elements
  private val vocab = Seq("a", "the", "", "é", "naïve", "日本語", "🙂", "x y", "Z")

  private def tokenArrays(n: Int): Seq[Option[Seq[String]]] = {
    val rnd = new scala.util.Random(1802L)
    (0 until n).map { i =>
      if (i % 97 == 0) None
      else Some(Seq.fill(rnd.nextInt(24)) {
        if (rnd.nextInt(10) == 0) null else vocab(rnd.nextInt(vocab.size))
      })
    }
  }

  /** The replaced `transform(sequence(...))` shapes, guarded like the
    * call sites were (fewer than `w` tokens or a null array -> empty).
    */
  private def lambdaWindows(t: Column, w: Int, hashed: Boolean): Column = {
    val joined = (j: Column) => array_join(slice(t, j + 1, lit(w)), " ")
    when(size(t) >= w, transform(sequence(lit(0), size(t) - w),
      j => if (hashed) md5(joined(j).cast("binary")) else joined(j)))
      .otherwise(array().cast("array<string>"))
  }

  private def concatWsWindows(t: Column, w: Int): Column =
    when(size(t) >= w, transform(sequence(lit(0), size(t) - w),
      j => concat_ws(" ", (1 to w).map(k => element_at(t, j + k)): _*)))
      .otherwise(array().cast("array<string>"))

  test("both modes equal the lambda formulations on 1200 generated arrays " +
      "(empty tokens, multi-byte UTF-8, null elements, width > size, null input)") {
    val arrays = tokenArrays(1200)
    assert(arrays.exists(_.isEmpty) && arrays.flatten.exists(_.contains(null)) &&
      arrays.flatten.exists(_.contains("")) && arrays.flatten.exists(_.size < 15))
    val df = arrays.toDF("t").cache()
    for (w <- Seq(1, 2, 3, 5, 15, 30)) {
      val rows = df.select(
        TextOps.tokenWindows(col("t"), w).as("text"),
        lambdaWindows(col("t"), w, hashed = false).as("text_ref"),
        concatWsWindows(col("t"), w).as("concat_ref"),
        coalesce(TokenWindows(col("t"), w, hashed = true),
          array().cast("array<string>")).as("md5"),
        lambdaWindows(col("t"), w, hashed = true).as("md5_ref")).collect()
      assert(rows.length == arrays.size)
      rows.foreach { r =>
        val text = r.getSeq[String](0)
        assert(text == r.getSeq[String](1), s"w=$w text vs array_join")
        assert(text == r.getSeq[String](2), s"w=$w text vs concat_ws")
        assert(r.getSeq[String](3) == r.getSeq[String](4), s"w=$w md5")
      }
      // width > size never yields a window
      assert(rows.zip(arrays).forall { case (r, a) =>
        a.forall(_.size >= w) || r.getSeq[String](0).isEmpty })
    }
    df.unpersist()
  }

  test("null array -> null, short array -> empty; shingles3 keeps its " +
      "null -> empty contract") {
    val df = Seq(None, Some(Seq("a", "b")), Some(Seq("a", "b", "c"))).toDF("t")
    val rows = df.select(TokenWindows(col("t"), 3, hashed = false),
      TextOps.shingles3(col("t"))).collect()
    assert(rows(0).isNullAt(0) && rows(0).getSeq[String](1).isEmpty)
    assert(rows(1).getSeq[String](0).isEmpty && rows(1).getSeq[String](1).isEmpty)
    assert(rows(2).getSeq[String](0) == Seq("a b c"))
    assert(rows(2).getSeq[String](1) == Seq("a b c"))
  }

  test("token_windows resolves from SQL in a GraftExtensions session and " +
      "hashes like md5") {
    // newSession(): a fresh function registry, so resolution can only
    // come from the installed extensions
    val fresh = spark.newSession()
    val r = fresh.sql(
      """SELECT token_windows(split('to be  or', ' '), 2, false) AS text,
        |       token_windows(split('to be  or', ' '), 2, true) AS h,
        |       md5('to be') AS h0, md5('be ') AS h1""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("to be", "be ", " or"))
    assert(r.getSeq[String](1).take(2) == Seq(r.getString(2), r.getString(3)))
    val err = intercept[Exception] {
      fresh.sql("SELECT token_windows(split(s, ' '), length(s), false) " +
        "FROM VALUES ('a b') AS v(s)").collect()
    }
    assert(err.getMessage.contains("token_windows"), err.getMessage)
  }
}
