package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the native codegen expressions: the same operators the
  * DataFrame API exposes through [[HashExprs]] and its siblings, callable
  * from plain `spark.sql` (notebooks, the thrift server, BI tools) as
  * `graft_*` functions. Sessions get them from [[GraftExtensions]] at
  * construction time: [[graft.GraftSession.configure]] sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`, and a
  * cluster-wide install sets the same conf.
  *
  * A function whose arguments are all columns is one `unary`/`binary`/
  * `ternary` line naming its [[GraftFunction]] class: the SQL name is the
  * class's `sqlName`, and the class checks its input types at analysis.
  * Hyper-parameters (shingle k, signature width, window) must be integer
  * LITERALS — they parameterize code generation, so a per-row value cannot
  * work; the error says so at analysis time rather than at execution.
  */
object GraftSqlFunctions {
  private type Builder = PartialFunction[Seq[Expression], Expression]

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal (it parameterizes codegen), got $other")
  }

  // the SQL name is read off an instance over a placeholder input
  private def unary(make: Expression => GraftFunction, arity: String): (String, String, Builder) =
    (make(Literal(null)).sqlName, arity, { case Seq(a) => make(a) })
  private def binary(make: (Expression, Expression) => GraftFunction, arity: String): (String, String, Builder) =
    (make(Literal(null), Literal(null)).sqlName, arity, { case Seq(a, b) => make(a, b) })
  private def ternary(
      make: (Expression, Expression, Expression) => GraftFunction,
      arity: String): (String, String, Builder) =
    (make(Literal(null), Literal(null), Literal(null)).sqlName, arity, { case Seq(a, b, c) => make(a, b, c) })

  /** (name, arity description, builder). */
  val functions: Seq[(String, String, Builder)] = Seq(
    unary(SimHash32Expr, "(text)"),
    unary(SimHash64Expr, "(text)"),
    ("graft_minhash", "(text, shingleK, numHashes)", {
      case Seq(t, k, n) =>
        val width = intLit(n, "graft_minhash", "numHashes")
        val (a, b) = HashExprs.seeds(width)
        MinHashSignature(t, intLit(k, "graft_minhash", "shingleK"), a, b)
    }),
    ("graft_word_ngrams", "(text, n)", {
      case Seq(t, n) => WordNGrams(t, intLit(n, "graft_word_ngrams", "n"))
    }),
    ("graft_winnow", "(text, shingleK, window)", {
      case Seq(t, k, w) =>
        WinnowingFingerprints(t, intLit(k, "graft_winnow", "shingleK"), intLit(w, "graft_winnow", "window"))
    }),
    binary(ArrayDot, "(arrayA, arrayB)"),
    binary(SortedIntersectSize, "(sortedArrayA, sortedArrayB)"),
    unary(RepStats, "(text)"),
    unary(SniffImageMeta, "(binary)"),
    unary(SniffAvMeta, "(binary)"),
    ("graft_bloom_agg", "(bigintKey, numBytes, numHashes) AGGREGATE", {
      case Seq(k, nb, nh) =>
        BloomBuildAgg(
          k,
          intLit(nb, "graft_bloom_agg", "numBytes"),
          intLit(nh, "graft_bloom_agg", "numHashes")
        ).toAggregateExpression()
    }),
    binary(BloomMightContain, "(bloomBits, bigintKey)"),
    unary(ImageDHash64, "(binary)"),
    unary(ImageAHash64, "(binary)"),
    unary(AudioFingerprint, "(binary)"),
    unary(ImageDualHash64, "(binary)"),
    unary(VideoFingerprint, "(binary)"),
    unary(ExifMeta, "(binary)"),
    unary(ExifStripGps, "(binary)"),
    unary(WarcRecords, "(binary)"),
    unary(DedupLines, "(string)"),
    unary(GzipMemberOf, "(binary)"),
    unary(GunzipConcat, "(binary)"),
    unary(GunzipMembers, "(binary)"),
    unary(HtmlText, "(string)"),
    unary(HtmlLinks, "(string)"),
    unary(HtmlAnchors, "(string)"),
    unary(HtmlMeta, "(string)"),
    ternary(HtmlMainText, "(string, int, int)"),
    ternary(RobotsAllowed, "(string, string, string)"),
    binary(RobotsCrawlDelayMs, "(string, string)"),
    unary(RobotsSitemaps, "(string)"),
    unary(SitemapEntries, "(string)"),
    unary(FeedEntries, "(string)"),
    unary(SniffMime, "(binary)"),
    binary(ResolveUrl, "(string, string)"),
    unary(SniffCharset, "(binary)"),
    unary(DecodeSniffed, "(binary)"),
    ("graft_decode_sniffed_with", "(binary, string)", {
      case Seq(b, l) => DecodeSniffedWith(b, l)
    }),
    unary(HttpResponse, "(binary)"),
    unary(HttpCharset, "(string)")
  )

  // ---- table-valued sugar for the SCD window queries ----
  //
  // The reference README's remaining two lake queries (W4 history of one
  // entity, W5 changed-since) become copy-paste SQL:
  //
  //   SELECT * FROM graft_history('graft.vgsi.properties', 'uuid-7')
  //   SELECT * FROM graft_changed_since('graft.vgsi.properties',
  //                                     TIMESTAMP '2024-03-05')
  //
  // Both expand AT ANALYSIS TIME to plain SQL over the catalog's derived
  // `__versions` view (history = key-filtered + version-ordered;
  // changed-since = `version > 1 AND <order> >= ts`, the filter the
  // GraftCatalog docs prescribe), so the whole existing resolution path —
  // view synthesis, base-table scan, predicate pushdown below the window —
  // is reused verbatim; the TVF adds zero execution machinery. The table
  // name must be a string LITERAL (it parameterizes plan construction);
  // the key/since argument may be any literal expression (its SQL text is
  // spliced into the filter).

  private def stringLit(e: Expression, fn: String, arg: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, org.apache.spark.sql.types.StringType) =>
      s.toString
    case other =>
      throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal naming a lake table, got $other")
  }

  private def quoted(c: String) = s"`${c.replace("`", "``")}`"

  /** The catalog a (2- or 3-part) table name resolves against, failing
    * loudly when it is not a graft lake catalog (the stamp-column names
    * come from its options).
    */
  private def scdCatalogFor(
      spark: SparkSession,
      fn: String,
      parts: Seq[String]
  ): graft.lake.GraftCatalog = {
    val cat = parts match {
      case Seq(c, _, _) =>
        try spark.sessionState.catalogManager.catalog(c)
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"$fn: unknown catalog '$c'", e)
        }
      case Seq(_, _) => spark.sessionState.catalogManager.currentCatalog
      case _ =>
        throw new IllegalArgumentException(
          s"$fn: table name must be <catalog>.<scope>.<table> or <scope>.<table>, got ${parts.mkString(".")}")
    }
    cat match {
      case g: graft.lake.GraftCatalog => g
      case other =>
        throw new IllegalArgumentException(
          s"$fn: catalog '${other.name}' is not a graft lake catalog — the SCD TVFs need its stamp columns")
    }
  }

  private def versionsSql(
      spark: SparkSession,
      fn: String,
      table: String,
      where: ((String, String, String)) => String,
      orderBy: String
  ): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
    val g = scdCatalogFor(spark, fn, parts)
    val from = (parts.init.map(quoted) :+ quoted(parts.last + "__versions")).mkString(".")
    val sql = s"SELECT * FROM $from WHERE ${where(g.scdColumnNames)}$orderBy"
    spark.sessionState.sqlParser.parsePlan(sql)
  }

  /** (name, arity description, builder) — table functions (FROM-clause). */
  val tableFunctions: Seq[(String, String, PartialFunction[
    Seq[Expression], org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] = Seq(
    ("graft_history", "(tableNameLiteral, keyValue)", {
      case Seq(t, v) =>
        val spark = SparkSession.active
        val table = stringLit(t, "graft_history", "tableName")
        versionsSql(
          spark, "graft_history", table,
          { case (key, _, _) => s"${quoted(key)} = ${v.sql}" },
          " ORDER BY `version`")
    }),
    ("graft_changed_since", "(tableNameLiteral, sinceTimestamp)", {
      case Seq(t, v) =>
        val spark = SparkSession.active
        val table = stringLit(t, "graft_changed_since", "tableName")
        versionsSql(
          spark, "graft_changed_since", table,
          { case (_, ord, _) => s"`version` > 1 AND ${quoted(ord)} >= ${v.sql}" },
          "")
    })
  )

  private def safeTableBuilder(
      name: String,
      arity: String,
      b: PartialFunction[Seq[Expression], org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
  ): Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    args =>
      if (b.isDefinedAt(args)) b(args)
      else throw new IllegalArgumentException(s"$name expects arguments $arity, got ${args.size}")

  private def info(name: String, arity: String): ExpressionInfo =
    new ExpressionInfo(
      HashExprs.getClass.getName,
      null,
      name,
      s"$name$arity - graft native codegen expression",
      "")

  private def safeBuilder(name: String, arity: String, b: Builder): Seq[Expression] => Expression =
    args =>
      if (b.isDefinedAt(args)) b(args)
      else throw new IllegalArgumentException(s"$name expects arguments $arity, got ${args.size}")

  /** Apply to a [[SparkSessionExtensions]] (the plug-in path). */
  def inject(extensions: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, arity, b) =>
      extensions.injectFunction((FunctionIdentifier(name), info(name, arity), safeBuilder(name, arity, b)))
    }
    tableFunctions.foreach { case (name, arity, b) =>
      extensions.injectTableFunction(
        (FunctionIdentifier(name), info(name, arity), safeTableBuilder(name, arity, b)))
    }
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — the graft_*
  * SQL functions plus the analyzer rule resolving the catalog's derived
  * SCD views (`<table>__current` / `<table>__versions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftSqlFunctions.inject(extensions)
    extensions.injectResolutionRule(s => graft.lake.ResolveScdViews(s))
  }
}
