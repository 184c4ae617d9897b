package graft

import graft.functions._
import graft.operators.Multimodal
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every graft expression gives the same answer through `Expression.eval`
  * (the interpreted path) and through generated code, over valid,
  * malformed and NULL input. Each class states its support call twice,
  * once per path, and this is the check that the two agree. The generated
  * projection holds two copies of the expression, once over nullable and
  * once over non-nullable inputs, so a local declared by the codegen of
  * one copy must not collide with the other's.
  */
class CodegenParitySpec extends SparkSpec {
  private def s(x: String): UTF8String = if (x == null) null else UTF8String.fromString(x)
  private def arr(xs: Any*) = new GenericArrayData(xs.toArray)
  private def bytes(x: String): Array[Byte] = x.getBytes("UTF-8")

  private val text: Seq[Seq[Any]] = Seq(
    "The quick brown fox jumps over the quick dog", "\ud800 lone \u200d surrogate", "", "cafÃ© menu",
    "a\nb\na", null).map(t => Seq(s(t)))
  private val html: Seq[Seq[Any]] = Seq(
    """<html><head><title>T</title><link rel="canonical" href="/c"><meta name="robots" content="noindex">""" +
      """</head><body><p>Main paragraph text that is long enough.</p><a href="/x">link text</a></body></html>""",
    "<a href=", "plain", null).map(t => Seq(s(t)))
  private val robots =
    "User-agent: *\nDisallow: /private\nCrawl-delay: 2\nSitemap: https://a.org/sitemap.xml\n"
  private val xml: Seq[Seq[Any]] = Seq(
    "<urlset><url><loc>https://a.org/1</loc><lastmod>2024-01-02</lastmod></url></urlset>",
    "<rss><channel><item><title>t</title><link>https://a.org/i</link></item></channel></rss>",
    "<feed><entry><title>e</title><link href=\"https://a.org/e\"/></entry></feed>",
    "<not xml", null).map(t => Seq(s(t)))

  private val png: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, if (y < 8) 0x202020 else 0xe0e0e0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
  private val binaries: Seq[Seq[Any]] = Seq(
    png,
    Multimodal.toneClipWav(Array(1, 2, 3, 4, 5, 6, 0), -1, 8000, channels = 1, amplitude = 12000),
    Multimodal.codedVideoAvi(Array(1, 2, 3, 4, 5, 6, 7, 0), -1, 48, 36, 2, 0),
    Multimodal.jpegExifBytes("Cam", 1, bigEndian = false, Some(('N', 41, 18, 30L, 1L, 'W', 72, 55, 10L, 1L))),
    bytes("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: https://a.org/1\r\n" +
      "Content-Length: 5\r\n\r\nhello\r\n\r\n"),
    bytes("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n<p>café</p>"),
    GzipSupport.gzipMember(bytes("inflated text")),
    bytes("\ufeffnot media at all"),
    Array.emptyByteArray,
    null).map(b => Seq(b))

  private val ranks = new BpeSupport.Ranks(Array(("t", "h"), ("th", "e"), ("q", "u")))
  private val unigram = UnigramSupport.model(Seq("the" -> 100L, "qu" -> 200L, "t" -> 300L, "h" -> 300L), 1000L)
  private val (seedA, seedB) = HashExprs.seeds(4)
  private val codebooks = Seq(Seq(Seq(0.0), Seq(1.0)), Seq(Seq(0.0), Seq(2.0)))
  private val vectors: Seq[Seq[Any]] =
    Seq(Seq(arr(0.9f, 1.5f)), Seq(arr(-1.0f, 0.2f)), Seq(null))
  private val bloom = {
    val b = BloomSupport.emptyBuffer(64, 3)
    BloomSupport.add(b, 5L)
    b
  }

  private val SS = Seq(StringType)
  private val BB = Seq(BinaryType)
  private val floats = ArrayType(FloatType)

  /** (expression name, input types, builder over the bound inputs, input rows). */
  private lazy val cases: Seq[(String, Seq[DataType], Seq[Expression] => Expression, Seq[Seq[Any]])] = Seq(
    ("SimHash32Expr", SS, e => SimHash32Expr(e(0)), text),
    ("SimHash64Expr", SS, e => SimHash64Expr(e(0)), text),
    ("MinHashSignature", SS, e => MinHashSignature(e(0), 3, seedA, seedB), text),
    ("WordNGrams", SS, e => WordNGrams(e(0), 2), text),
    ("WinnowingFingerprints", SS, e => WinnowingFingerprints(e(0), 3, 2), text),
    ("RepStats", SS, e => RepStats(e(0)), text),
    ("TextStats", SS, e => TextStats(e(0), Seq("the"), Seq(Seq("fox"), Seq("dog"))), text),
    ("NfcNormalize", SS, e => NfcNormalize(e(0)), text),
    ("MojibakeRepair", SS, e => MojibakeRepair(e(0)), text),
    ("DedupLines", SS, e => DedupLines(e(0)), text),
    ("BpeTokenCount", SS, e => BpeTokenCount(e(0), ranks), text),
    ("BpeTokenCount byte", SS, e => BpeTokenCount(e(0), ranks, byteLevel = true), text),
    ("BpeAdjacentPairs", SS, e => BpeAdjacentPairs(e(0), ranks), text),
    ("BpeTokenIds", SS, e => BpeTokenIds(e(0), ranks, Seq("the", "qu", "o")), text),
    ("UnigramTokenCount", SS, e => UnigramTokenCount(e(0), unigram), text),
    ("UnigramTokenCost", SS, e => UnigramTokenCost(e(0), unigram), text),
    ("UnigramTokensOf", SS, e => UnigramTokensOf(e(0), unigram), text),
    ("HtmlText", SS, e => HtmlText(e(0)), html),
    ("HtmlLinks", SS, e => HtmlLinks(e(0)), html),
    ("HtmlAnchors", SS, e => HtmlAnchors(e(0)), html),
    ("HtmlMeta", SS, e => HtmlMeta(e(0)), html),
    ("RobotsSitemaps", SS, e => RobotsSitemaps(e(0)), Seq(Seq(s(robots)), Seq(s("junk")), Seq(null))),
    ("SitemapEntries", SS, e => SitemapEntries(e(0)), xml),
    ("FeedEntries", SS, e => FeedEntries(e(0)), xml),
    ("HttpCharset", SS, e => HttpCharset(e(0)),
      Seq("text/html; charset=UTF-8", "text/html", null).map(t => Seq(s(t)))),
    ("RegisteredDomainPsl", SS, e => RegisteredDomainPsl(e(0), PslSupport.compile(Seq("com", "co.uk"))),
      Seq("www.example.co.uk", "co.uk", "", null).map(t => Seq(s(t)))),
    ("SniffImageMeta", BB, e => SniffImageMeta(e(0)), binaries),
    ("SniffAvMeta", BB, e => SniffAvMeta(e(0)), binaries),
    ("ImageDHash64", BB, e => ImageDHash64(e(0)), binaries),
    ("ImageAHash64", BB, e => ImageAHash64(e(0)), binaries),
    ("ImageDualHash64", BB, e => ImageDualHash64(e(0)), binaries),
    ("SniffMime", BB, e => SniffMime(e(0)), binaries),
    ("AudioFingerprint", BB, e => AudioFingerprint(e(0)), binaries),
    ("VideoFingerprint", BB, e => VideoFingerprint(e(0)), binaries),
    ("ExifMeta", BB, e => ExifMeta(e(0)), binaries),
    ("ExifStripGps", BB, e => ExifStripGps(e(0)), binaries),
    ("WarcRecords", BB, e => WarcRecords(e(0)), binaries),
    ("GzipMemberOf", BB, e => GzipMemberOf(e(0)), binaries),
    ("GunzipMembers", BB, e => GunzipMembers(e(0)), binaries),
    ("GunzipConcat", BB, e => GunzipConcat(e(0)), binaries),
    ("SniffCharset", BB, e => SniffCharset(e(0)), binaries),
    ("DecodeSniffed", BB, e => DecodeSniffed(e(0)), binaries),
    ("HttpResponse", BB, e => HttpResponse(e(0)), binaries),
    ("DeflatedSize", BB, e => DeflatedSize(e(0), 6), binaries),
    ("DecodeSniffedWith", Seq(BinaryType, StringType), e => DecodeSniffedWith(e(0), e(1)),
      Seq(Seq(bytes("café"), s("utf-8")), Seq(bytes("café"), null), Seq(null, s("latin1")))),
    ("BytesConcatAll", Seq(ArrayType(BinaryType)), e => BytesConcatAll(e(0)),
      Seq(Seq(arr(bytes("ab"), bytes("c"))), Seq(arr(bytes("ab"), null)), Seq(arr()), Seq(null))),
    ("BpeDecodeIds", Seq(ArrayType(IntegerType)), e => BpeDecodeIds(e(0), Seq("th", "e", "x")),
      Seq(Seq(arr(0, 1)), Seq(arr(0, -1)), Seq(null))),
    ("ArrayDot", Seq(floats, ArrayType(DoubleType)), e => ArrayDot(e(0), e(1)),
      Seq(Seq(arr(1.0f, 2.0f), arr(3.0, 0.5)), Seq(null, arr(1.0, 1.0)))),
    ("LshBucket", Seq(floats), e => LshBucket(e(0), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, -1.0))), vectors),
    ("PqAssignCodes", Seq(floats), e => PqAssignCodes(e(0), codebooks), vectors),
    ("PqQueryTableExpr", Seq(floats), e => PqQueryTableExpr(e(0), codebooks), vectors),
    ("PqAdcDistance", Seq(ArrayType(IntegerType), ArrayType(ArrayType(DoubleType))), e => PqAdcDistance(e(0), e(1)),
      Seq(Seq(arr(0, 1), arr(arr(0.5, 1.5), arr(2.0, 3.0))), Seq(arr(1, 0), null))),
    ("SortedIntersectSize", Seq(ArrayType(LongType), ArrayType(LongType)), e => SortedIntersectSize(e(0), e(1)),
      Seq(Seq(arr(1L, 2L, 3L, 9L), arr(2L, 3L, 5L)), Seq(arr(), arr(1L)), Seq(null, arr(1L)))),
    ("SortedStructIntersectSize", {
      val t = ArrayType(StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
      Seq(t, t)
    }, e => SortedStructIntersectSize(e(0), e(1)), {
      def p(a: Long, b: Long) = new GenericInternalRow(Array[Any](a, b))
      Seq(Seq(arr(p(1, 2), p(1, 3), p(4, 0)), arr(p(1, 3), p(4, 0))), Seq(arr(p(1, 2)), null))
    }),
    ("BloomMightContain", Seq(BinaryType, LongType), e => BloomMightContain(e(0), e(1)),
      Seq(Seq(bloom, 5L), Seq(bloom, 6L), Seq(bytes("x"), 5L), Seq(null, 5L), Seq(bloom, null))),
    ("BloomMightContainBcast", Seq(LongType),
      e => BloomMightContainBcast(spark.sparkContext.broadcast(bloom), e(0)),
      Seq(Seq(5L), Seq(6L), Seq(null))),
    ("ResolveUrl", Seq(StringType, StringType), e => ResolveUrl(e(0), e(1)),
      Seq(("https://a.org/x/y", "../p?q=1"), ("https://a.org/", "//cdn.b.org/z"), ("not a url", "x"),
        (null, "x")).map { case (b, r) => Seq(s(b), s(r)) }),
    ("HtmlMainText", Seq(StringType, IntegerType, IntegerType), e => HtmlMainText(e(0), e(1), e(2)),
      html.map(h => h ++ Seq(10, 500)) :+ Seq(html.head.head, null, 500)),
    ("RobotsAllowed", Seq(StringType, StringType, StringType), e => RobotsAllowed(e(0), e(1), e(2)),
      Seq("/private/x", "/public", null).map(p => Seq(s(robots), s("graftbot"), s(p)))),
    ("RobotsCrawlDelayMs", Seq(StringType, StringType), e => RobotsCrawlDelayMs(e(0), e(1)),
      Seq(Seq(s(robots), s("graftbot")), Seq(s("User-agent: *\nDisallow:\n"), s("graftbot")), Seq(null, s("x"))))
  )

  /** A comparable Scala value: byte arrays by content, rows and arrays as Seqs. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
    case xs: scala.collection.Seq[_] => xs.map(norm)
    case other => other
  }

  test("every graft expression: interpreted eval equals generated code on valid, malformed and NULL input") {
    for ((name, types, make, rows) <- cases; row <- rows) {
      val in = new GenericInternalRow(row.toArray)
      val nullable = make(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
      val nonNull = make(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = false) })
      assert(nullable.checkInputDataTypes().isSuccess, s"$name rejects its own inputs")
      val copies = if (row.contains(null)) Seq(nullable) else Seq(nullable, nonNull)
      val want = norm(CatalystTypeConverters.convertToScala(nullable.eval(in), nullable.dataType))
      val out = GenerateUnsafeProjection.generate(copies, subexpressionEliminationEnabled = false)(in)
      copies.indices.foreach { i =>
        val got = if (out.isNullAt(i)) null else out.get(i, nullable.dataType)
        assert(norm(CatalystTypeConverters.convertToScala(got, nullable.dataType)) == want,
          s"$name on ${row.map(norm)}: generated code disagrees with eval (copy $i)")
      }
    }
  }

  test("the parity table covers every GraftFunction class") {
    val dir = new java.io.File(classOf[GraftFunction].getResource("GraftFunction.class").toURI).getParentFile
    val all = dir.list().toSeq.filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName("graft.functions." + n.stripSuffix(".class")))
      .filter(c => classOf[GraftFunction].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
    val covered: Set[Class[_]] =
      cases.map(_._3(Seq.fill(3)(BoundReference(0, StringType, nullable = true))).getClass).toSet
    val missing = all.filterNot(covered.contains)
    assert(all.size >= 50, s"found only ${all.size} GraftFunction classes under $dir")
    assert(missing.isEmpty, missing.map(_.getSimpleName).mkString(", "))
  }
}
