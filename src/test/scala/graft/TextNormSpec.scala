package graft

import graft.functions.{TextNormExprs, TextNormSupport}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization + mojibake repair (the corpus-intake cleaning
  * expressions) and the directional containment operator. All unicode
  * fixtures use \\u escapes — raw combining characters in source would be
  * one editor-normalization away from testing nothing.
  */
class TextNormSpec extends SparkSpec {
  import spark.implicits._

  private def nfc(s: String): String = TextNormSupport.nfc(UTF8String.fromString(s)).toString
  private def moji(s: String): String = {
    val r = TextNormSupport.repairMojibake(UTF8String.fromString(s))
    if (r == null) null else r.toString
  }
  /** The true string double-encoded: UTF-8 bytes read back as cp1252. */
  private def breakIt(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")

  test("NFC: decomposed sequences compose; composed and ASCII text are fixed points") {
    // e + COMBINING ACUTE (U+0301) -> U+00E9; A + COMBINING RING (U+030A) -> U+00C5
    assert(nfc("café") == "café")
    assert(nfc("Å") == "Å")
    assert(nfc("plain ascii 123") == "plain ascii 123")
    assert(nfc("café") == "café", "already-NFC text unchanged")
    val messy = "facadȩ é́ Å mixed"
    assert(nfc(nfc(messy)) == nfc(messy), "idempotence")
    // length shrinks by exactly the composed pair
    assert(nfc("é").length == 1 && "é".length == 2)
  }

  test("mojibake repair: double-encoded text round-trips, including cp1252-only bytes") {
    // em dash U+2014 and right single quote U+2019 put 0x80/0x99 bytes in
    // play — the cp1252 graphics a Latin-1-only inverse would reject
    for (s <- Seq("café", "déjà vu", "naïve — sure",
      "“quoted’ — it’s", "中文 mixed ascii",
      "emoji 😀 tail")) {
      val broken = breakIt(s)
      assert(broken != s, s"fixture must actually break '$s'")
      assert(moji(broken) == s, s"repair of '$broken' must recover '$s'")
    }
  }

  test("mojibake repair NULLs everything that is not valid mojibake (never corrupts)") {
    assert(moji("plain ascii only") == null, "pure ASCII: nothing to repair")
    assert(moji("") == null)
    assert(moji("genuine café text") == null,
      "a lone é is INVALID as UTF-8 bytes — single-encoded text must not be touched")
    assert(moji("中文") == null, "genuine CJK is not a byte sequence")
    assert(moji("xÃ") == null, "truncated multi-byte at end of string")
    assert(moji("x©y") == null, "stray continuation byte")
    assert(moji("À¯") == null, "overlong 2-byte lead C0 is never legal")
    assert(moji("í ") == null, "UTF-16 surrogate range as UTF-8 (ED A0 80)")
    assert(moji("õ") == null, "lead above U+10FFFF (F5)")
    assert(moji("à") == null, "overlong 3-byte (E0 80 xx)")
    // cp1252's undefined 0x9D byte decodes to U+FFFD — the information is
    // GONE, so a broken right-double-quote (E2 80 9D) is unrecoverable and
    // must stay untouched rather than be half-repaired
    assert(moji(breakIt("x”y")) == null)
  }

  test("expressions: SQL-surface behavior and null propagation") {
    val df = Seq(
      (1L, "café"),
      (2L, breakIt("résumé")),
      (3L, "plain"),
      (4L, null: String)
    ).toDF("id", "t")
    val out = df.select(
        $"id",
        TextNormExprs.nfcNormalize($"t").as("n"),
        TextNormExprs.mojibakeRepair($"t").as("m"))
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(out(1L)._1.contains("café") && out(1L)._2.isEmpty)
    assert(out(2L)._2.contains("résumé"))
    assert(out(3L) == (Some("plain"), None))
    assert(out(4L) == (None, None), "null input propagates as null, not a crash")
  }

  test("two instances over NON-nullable children share one codegen scope (freshName)") {
    // nullSafeExec inlines the result code UNBRACED when the child is
    // non-nullable, so two instances land in one scope: a fixed-name
    // local would be declared twice and fail Janino. fallback=false turns
    // that from silent interpreted-mode noise into a test failure.
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("b", StringType, nullable = false)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(breakIt("café"), breakIt("naïve"))), schema)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = df.select(
        TextNormExprs.mojibakeRepair($"a").as("ra"),
        TextNormExprs.mojibakeRepair($"b").as("rb")).collect().head
      assert(out.getString(0) == "café" && out.getString(1) == "naïve")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("containmentPairs: directional by hand; short docs excluded; threshold binds") {
    val docs = Seq(
      // B contains all of A's trigrams plus more: A→B qualifies, B→A does not
      (1L, "the quick brown fox jumps"),                       // 3 trigrams
      (2L, "the quick brown fox jumps over the lazy dog now"), // 8 trigrams, superset
      // C shares nothing: no pair
      (3L, "completely different words entirely here today"),
      (4L, "tiny doc")                                         // < 3 words: no trigrams
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text", thresholdPermille = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1000L)),
      s"A fully contained in B, nothing else: ${pairs.toSeq}")
    // threshold binds: at 100% requirement a one-gram difference disqualifies
    val almost = Seq(
      (1L, "the quick brown fox jumped high"),  // 4 trigrams, 2 shared with B
      (2L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val strict = Dedup.containmentPairs(almost, "doc_id", "text", thresholdPermille = 1000)
    assert(strict.count() == 0)
    val loose = Dedup.containmentPairs(almost, "doc_id", "text", thresholdPermille = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(loose.toSeq == Seq((1L, 2L, 500L)), s"2 of 4 trigrams shared: ${loose.toSeq}")
  }

  test("containmentPairs: prefix-filtered output equals the naive all-collisions formulation") {
    // deterministic corpus with a HOT shared tail (every doc carries it —
    // the boilerplate class the prefix filter exists for), distinct bodies,
    // and planted truncated copies (the true containments)
    val base = (0L until 40L).map { i =>
      val words = (0 until 6).map(j => s"w${(i * 7 + j * 3 + i * i % 5) % 41}").mkString(" ")
      (i, s"$words shared footer boilerplate here")
    }
    val planted = (0L until 40L by 8L)
      .map(i => (i + 1000L, base(i.toInt)._2.split(" ").take(6).mkString(" ")))
    val docs = (base ++ planted).toDF("doc_id", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fast = collect(Dedup.containmentPairs(docs, "doc_id", "text", 800))
    // naive reference: every gram collision counted, no prefix, no verify merge
    val grams = docs.select($"doc_id",
      explode(array_distinct(graft.functions.HashExprs.wordNGrams($"text", 3))).as("g"))
    val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("sa"))
    val naive = collect(
      grams.as("a")
        .join(grams.as("b"), $"a.g" === $"b.g" && $"a.doc_id" =!= $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .filter($"inter" * 1000 >= $"sa" * 800)
        .select($"doc_a", $"doc_b", expr("inter * 1000 DIV sa").as("cp")))
    assert(fast == naive, s"prefix filter changed the output:\nfast=$fast\nnaive=$naive")
    assert(fast.nonEmpty, "fixture must plant at least one containment")
    // dfCap drops hot-gram candidates: a tight cap yields a SUBSET (recall
    // trade documented); the default cap is exact
    val capped = collect(Dedup.containmentPairs(docs, "doc_id", "text", 800, dfCap = 3L))
    assert(capped.subsetOf(fast), s"dfCap must only remove pairs: $capped vs $fast")
  }

  test("ngramJaccardPairs: prefix-filtered output equals the naive all-pairs Jaccard") {
    val footer = "shared footer boilerplate here" // a HOT trigram run in every doc
    val base = (0L until 40L).map { i =>
      val words = (0 until 6).map(j => s"w${(i * 7 + j * 3 + i * i % 5) % 41}").mkString(" ")
      (i, s"$words $footer")
    }
    // size-mismatched: long docs that extend a base doc, and truncations
    val long = (0L until 40L by 10L).map { i =>
      (i + 500L, base(i.toInt)._2 + " " + (0 until 12).map(j => s"x${i + j}").mkString(" "))
    }
    val short = (0L until 40L by 5L).map(i => (i + 600L, base(i.toInt)._2.split(" ").take(4).mkString(" ")))
    // fewer than three words: one whole-token gram each, so only the equal
    // pair overlaps
    val tiny = Seq((900L, "tiny doc"), (901L, "tiny doc"), (902L, "solo"), (903L, "tiny doc here"))
    // planted on the threshold: 15 trigrams each, one body word swapped ->
    // 12 shared of 18, J = 2/3 < 0.6667 = round(J, 4)
    val body = (1 to 13).map(j => s"q$j")
    val planted = Seq(
      (700L, (body :+ footer).mkString(" ")),
      (701L, (body.updated(6, "zz") :+ footer).mkString(" ")))
    val docs = (base ++ long ++ short ++ tiny ++ planted).toDF("doc_id", "text")
    val grams = docs.select($"doc_id",
      explode(array_distinct(graft.functions.HashExprs.wordNGrams($"text", 3))).as("g"))
    val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val allPairs = grams.as("a")
      .join(grams.as("b"), $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sa")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("sb")), "doc_b")
      .select($"doc_a", $"doc_b", round($"inter" / ($"sa" + $"sb" - $"inter"), 4).as("j"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.3, 0.6667)) {
      val fast = collect(Dedup.ngramJaccardPairs(docs, "doc_id", "text", t))
      val naive = collect(allPairs.filter($"j" >= t))
      assert(fast == naive, s"t=$t: prefix filter changed the output:\nfast=$fast\nnaive=$naive")
      assert(fast.contains((700L, 701L, 0.6667)), s"t=$t: the on-threshold pair must survive")
      assert(fast.filter(_._2 >= 900L) == Set((900L, 901L, 1.0)), s"t=$t: short docs: $fast")
    }
  }

  private def dl(s: String): String =
    TextNormSupport.dedupLines(UTF8String.fromString(s)).toString

  test("dedupLines: first occurrence wins, order preserved, exact-match only") {
    assert(dl("a\nb\na\nc\nb") == "a\nb\nc")
    assert(dl("banner\ntext one\nbanner\ntext one\nfooter") == "banner\ntext one\nfooter")
    // exact semantics: trailing space and case differences are DIFFERENT lines
    assert(dl("a\na \nA") == "a\na \nA")
    // no newline: unchanged (single line)
    assert(dl("one line only") == "one line only")
    assert(dl("") == "")
  }

  test("dedupLines: empty lines dedup like any other line; trailing newline collapses") {
    // blank lines are lines too — repeated blanks collapse to the first
    assert(dl("a\n\nb\n\nc") == "a\n\nb\nc")
    // a trailing newline is an empty last line; it survives only if no
    // earlier empty line exists
    assert(dl("a\nb\n") == "a\nb\n")
    assert(dl("a\n\nb\n") == "a\n\nb")
  }
}
