package graft

import graft.functions.{GraftExtensions, GraftSqlFunctions, HashSupport}
import org.apache.spark.sql.SparkSessionExtensions

class GraftSqlFunctionsSpec extends SparkSpec {

  test("graft_simhash64 from SQL equals the Scala implementation") {
    val got = spark.sql("SELECT graft_simhash64('the quick brown fox') AS h").head().getLong(0)
    assert(got == HashSupport.simhash64("the quick brown fox"))
  }

  test("graft_minhash yields the same signature as the DataFrame API") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq("a rose is a rose is a rose").toDF("t")
    val viaSql = spark.sql("SELECT graft_minhash('a rose is a rose is a rose', 5, 12) AS s")
      .head().getSeq[Long](0)
    val viaDf = df.select(graft.functions.HashExprs.minhashSignature(col("t"), 5, 12).as("s"))
      .head().getSeq[Long](0)
    assert(viaSql == viaDf && viaSql.length == 12)
  }

  test("graft_sorted_intersect_size and graft_array_dot work on SQL arrays") {
    val r = spark.sql(
      """SELECT graft_sorted_intersect_size(array(1L,2L,3L,9L), array(2L,3L,5L)) AS i,
        |       graft_array_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                       array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d""".stripMargin).head()
    assert(r.getLong(0) == 2L)
    assert(math.abs(r.getDouble(1) - 4.0) < 1e-9)
  }

  test("graft_rep_stats exposes the repetition struct in SQL") {
    val r = spark.sql("SELECT graft_rep_stats('go go go stop').n_bigrams AS nb").head()
    assert(r.getInt(0) == 3)
  }

  test("hyper-parameters must be literals; wrong arity is a clear error") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_minhash('x', 1 + CAST(rand() AS INT), 12)").collect()
    }
    assert(e1.getMessage.contains("integer literal"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_simhash64('x', 3)").collect()
    }
    assert(e2.getMessage.contains("expects arguments"))
  }

  test("codegen survives the SQL path (whole-stage works over a table)") {
    import spark.implicits._
    val df = (1 to 100).map(i => s"row text number $i with words").toDF("t")
    df.createOrReplaceTempView("gsf_t")
    val n = spark.sql("SELECT count(DISTINCT graft_simhash32(t)) FROM gsf_t").head().getLong(0)
    assert(n > 1)
  }

  test("the extensions plug-in registers working builders into a function registry") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    // exercise the exact path a session built with
    // spark.sql.extensions=GraftExtensions runs at construction time:
    // inject into a SparkSessionExtensions, materialize its registry, and
    // evaluate a looked-up builder end to end
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.GraftExtensionsTestHook
      .materializeFunctions(ext, new SimpleFunctionRegistry)
    GraftSqlFunctions.functions.foreach { case (n, _, _) =>
      assert(reg.functionExists(FunctionIdentifier(n)), s"$n missing from injected registry")
    }
    val e = reg.lookupFunction(FunctionIdentifier("graft_simhash64"), Seq(Literal("plug-in path")))
    assert(e.eval(null) == HashSupport.simhash64("plug-in path"))
  }

  test("string fuzz: every text expression survives hostile unicode without throwing") {
    // the codegen expressions do manual shingle/buffer math over UNTRUSTED
    // corpus text — surrogate pairs, lone surrogates, zero-width joiners,
    // NULs, RTL marks, huge repeats, and empty/whitespace strings must all
    // produce a value (never throw), and interpreted eval must agree with
    // itself across calls (determinism). Seeded for replay.
    import spark.implicits._
    val rnd = new scala.util.Random(424242)
    val alphabets = Seq(
      "abc def ghi ",
      "\u0000\u0001\ufffd\ufeff", // NUL, control, replacement char, BOM
      "\ud83d\ude00\ud83c\udf89\u200d", // emoji + zero-width joiner
      "\ud800", // lone high surrogate
      "\u05e9\u05dc\u05d5\u05dd \u200f", // RTL text + RTL mark
      " \t\n\r",
      "a"
    )
    val hostile: Seq[String] = Seq("", " ", "a" * 10000, "ab " * 5000) ++
      (0 until 60).map { _ =>
        val a = alphabets(rnd.nextInt(alphabets.length))
        (0 until 1 + rnd.nextInt(40)).map(_ => a(rnd.nextInt(a.length))).mkString
      }
    val df = hostile.toDF("t")
    df.createOrReplaceTempView("fuzz_t")
    val exprs = Seq(
      "graft_simhash32(t)",
      "graft_simhash64(t)",
      "graft_minhash(t, 3, 8)",
      "graft_word_ngrams(t, 3)",
      "graft_winnow(t, 5, 4)",
      "graft_rep_stats(t)"
    )
    for (ex <- exprs) {
      val once = spark.sql(s"SELECT $ex AS v FROM fuzz_t").collect()
      val twice = spark.sql(s"SELECT $ex AS v FROM fuzz_t").collect()
      assert(once.length == hostile.length, s"$ex dropped rows")
      assert(once.map(_.toString).toSeq == twice.map(_.toString).toSeq, s"$ex nondeterministic")
    }
  }

  test("graft_bloom_agg + graft_bloom_might_contain round-trip through pure SQL") {
    import spark.implicits._
    (1L to 200L).map(_ * 31L).toDF("k").createOrReplaceTempView("gsf_bloom_keys")
    // build in SQL, probe in SQL: members always pass; a disjoint range
    // mostly fails (sized at ~40 bits/key, FPs are ~impossible in 200 probes)
    val hits = spark.sql("""
      WITH b AS (SELECT graft_bloom_agg(k, 1024, 5) AS bits FROM gsf_bloom_keys)
      SELECT count(*) FROM gsf_bloom_keys, b WHERE graft_bloom_might_contain(b.bits, k)
    """).head().getLong(0)
    assert(hits == 200L, "bloom must never false-negative its own keys")
    val strangers = spark.sql("""
      WITH b AS (SELECT graft_bloom_agg(k, 1024, 5) AS bits FROM gsf_bloom_keys)
      SELECT count(*) FROM range(1000000, 1000200) r, b
      WHERE graft_bloom_might_contain(b.bits, r.id)
    """).head().getLong(0)
    assert(strangers < 20L, s"FP rate implausibly high: $strangers/200")
  }

  test("graft_sniff_image / graft_sniff_av expose the media sniffers to SQL") {
    import graft.operators.Multimodal
    import spark.implicits._
    Seq(
      (1L, Multimodal.wavBytes(2, 16000, 16, 64)),
      (2L, "not media".getBytes("UTF-8"))
    ).toDF("id", "b").createOrReplaceTempView("gsf_media")
    val av = spark.sql(
      "SELECT id, graft_sniff_av(b).format AS f, graft_sniff_av(b).channels AS c FROM gsf_media ORDER BY id"
    ).collect()
    assert(av(0).getString(1) == "wav" && av(0).getInt(2) == 2)
    assert(av(1).isNullAt(1), "non-media bytes must sniff to NULL, not throw")
    val img = spark.sql("SELECT graft_sniff_image(b) AS m FROM gsf_media WHERE id = 2").head()
    assert(img.isNullAt(0))
  }
}
