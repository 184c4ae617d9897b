package graft.cli

import graft.GraftSession
import graft.ingest.{Engine, IngestConfig}
import graft.lake.{Checkpoints, CityRegistry, Lake}
import graft.scd.Scd
import graft.sources.vgsi.{VgsiSource, VgsiParser}
import org.apache.spark.sql.functions._

/** CLI surface mirroring the reference's commands and defaults
  * (/root/reference/src/scrape.py:125-216):
  *
  *   graft load vgsi <city> [--entry-id-min N] [--entry-id-max N] [flags]
  *   graft refresh vgsi <city> [flags]
  *   graft refresh-all [--data-dir D]
  *   graft admin scopes|tables|compact|checkpoint|current|history|changed [args]
  *
  * Flags (reference defaults): --workers 4, --rate 5, --max-errors 50,
  * --data-dir data, --download-photos (off) with --photo-dir photos,
  * admin fetch-cities --cities-url (the VGSI index). TLS verification is
  * ON by default (a deliberate departure from the reference's hardcoded
  * verify=False); --no-verify-tls is the per-invocation opt-out for
  * self-signed gis hosts, --verify-tls the explicit affirmation.
  */
object Main {

  private case class Args(
      positional: Vector[String] = Vector.empty,
      flags: Map[String, String] = Map.empty
  ) {
    def flag(name: String, default: String): String = flags.getOrElse(name, default)
  }

  private val KnownFlags = Set(
    "data-dir", "workers", "rate", "max-errors", "cores",
    "entry-id-min", "entry-id-max", "base-url", "photo-dir", "cities-url"
  )

  // value-less switches (the reference's store_true args, source.py:900-909);
  // verify-tls/no-verify-tls are graft's own pair — unlike the reference
  // (verify=False hardcoded), verification is ON by default and
  // --no-verify-tls is the explicit opt-out for self-signed gis hosts
  private val BoolFlags = Set("download-photos", "verify-tls", "no-verify-tls")

  private def parseArgs(argv: Array[String]): Args = {
    val (args, pending) = argv.foldLeft((Args(), Option.empty[String])) {
      case ((acc, Some(p)), v) => (acc.copy(flags = acc.flags + (p -> v)), None)
      case ((acc, None), a) if a.startsWith("--") && BoolFlags(a.stripPrefix("--")) =>
        (acc.copy(flags = acc.flags + (a.stripPrefix("--") -> "true")), None)
      case ((acc, None), a) if a.startsWith("--") => (acc, Some(a.stripPrefix("--")))
      case ((acc, None), p) => (acc.copy(positional = acc.positional :+ p), None)
    }
    pending.foreach(p => sys.error(s"flag --$p requires a value"))
    val unknown = args.flags.keySet.diff(KnownFlags ++ BoolFlags)
    if (unknown.nonEmpty)
      sys.error(s"unknown flag(s): ${unknown.map("--" + _).mkString(", ")}; known: ${(KnownFlags ++ BoolFlags).toSeq.sorted.map("--" + _).mkString(", ")}")
    args
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    if (args.positional.isEmpty) { usage(); sys.exit(2) }

    val spark = GraftSession.local(
      cores = args.flag("cores", "8").toInt,
      shufflePartitions = args.flag("cores", "8").toInt
    )
    val root = args.flag("data-dir", "data")
    // --download-photos + --photo-dir (default "photos") mirror the
    // reference's store_true/default pair: photos only download when
    // asked, into a caller-chosen directory
    val photoDir =
      if (args.flags.contains("download-photos")) Some(args.flag("photo-dir", "photos"))
      else None
    val config = IngestConfig(
      workers = args.flag("workers", "4").toInt,
      maxConsecutiveErrors = args.flag("max-errors", "50").toInt,
      photoDir = photoDir
    )
    // TLS verification: ON unless --no-verify-tls (the reference hardcodes
    // verify=False for its self-signed gis hosts; here that is an explicit,
    // per-invocation opt-out — the CA-signed index/photo hosts verify by
    // default). --verify-tls is accepted for symmetry/explicitness.
    if (args.flags.contains("verify-tls") && args.flags.contains("no-verify-tls"))
      sys.error("--verify-tls and --no-verify-tls are mutually exclusive")
    val verifyTls = !args.flags.contains("no-verify-tls")

    // ONE construction path for every branch that scrapes a VGSI city:
    // the load/refresh and refresh-all branches used to duplicate the
    // slash normalization and source wiring, and both the normalization
    // and the photo wiring were each missed once in refresh-all before
    // being re-duplicated — a helper removes the divergence channel.
    // (Slash rule: vgsiUrl concatenates, so a slashless base would 404
    // every pid as '<base>Parcel.aspx?pid=N' until the breaker kills the
    // run — the reference normalizes too, source.py:928-929.)
    def vgsiSourceFor(baseUrl0: String): VgsiSource = {
      val baseUrl = if (baseUrl0.endsWith("/")) baseUrl0 else baseUrl0 + "/"
      VgsiSource(baseUrl, VgsiSource.httpFetch(verifyTls = verifyTls),
        ratePerSec = args.flag("rate", "5").toDouble,
        photoFetch = photoDir.map(_ => VgsiSource.httpGetBytes(verifyTls = verifyTls)))
    }

    try args.positional.head match {
      case "load" | "refresh" =>
        if (args.positional.length < 3) {
          usage()
          sys.error(s"${args.positional.head} needs a source and a city, e.g. `graft ${args.positional.head} vgsi newhaven`")
        }
        val Vector(cmd, sourceName, city) = args.positional.take(3)
        require(sourceName == "vgsi", s"unknown source: $sourceName")
        // an EXPLICIT --base-url wins over the registry default: the flag
        // exists to work around a stale/moved registry entry, and silently
        // preferring the registry sent the scrape to the dead endpoint
        // with no hint the override was dropped
        val baseUrl0 = args.flags.get("base-url")
          .orElse(CityRegistry.cityUrl(spark, root, city))
          .getOrElse(sys.error(s"city '$city' not in registry; pass --base-url"))
        val source = vgsiSourceFor(baseUrl0)
        // captured BEFORE the run: the post-refresh report must show what
        // THIS refresh changed (the reference passes its refresh start
        // time, source.py:956-961) — a fixed last-24h window re-reported
        // the morning's changes after a no-op evening refresh
        val refreshStart = new java.sql.Timestamp(System.currentTimeMillis())
        val stats =
          if (cmd == "load") {
            val min = args.flag("entry-id-min", "1").toLong
            val max = args.flag("entry-id-max", "1000").toLong
            Engine.runLoad(spark, source, min to max, root, city, config)
          } else Engine.runRefresh(spark, source, root, city, config)
        println(s"${args.positional.head} $city: scraped=${stats.scraped} errors=${stats.errors} " +
          s"invalid=${stats.invalid} written=${stats.rowsWritten.toSeq.sorted.filter(_._2 > 0)} " +
          f"${stats.entriesPerSecond}%.1f entries/s")
        // post-refresh change report (P9 + W5, vgsi/source.py:955-966)
        if (cmd == "refresh") {
          val props = Lake.read(spark, root, city, "properties")
          val display = Seq("pid", "address", "owner", "assessment_value", "scraped_at")
            .filter(props.columns.contains)
          Scd
            .changedSince(props, col("uuid"), col("row_hash"),
              lit(refreshStart), col("scraped_at"))
            .select(display.map(col): _*)
            .show(20, truncate = false)
        }

      case "refresh-all" => // D10 — every scope of every registered source
        // Each source owns its scopes (the reference iterates per-source
        // scope keys): VGSI scopes are the ones in the city registry; the
        // CT scope belongs to CtDataSource and needs live dataset counts,
        // so it is skipped here with a notice rather than failed.
        var failures = 0
        // registry loaded ONCE into a map: a per-scope CityRegistry.cityUrl
        // was a full parquet read + collect job per lookup for a ~90-row
        // dimension table
        val registry: Map[String, String] = CityRegistry.load(spark, root)
          .map(_.select(col("city_key"), col("url")).collect()
            .flatMap(r => Option(r.getString(1)).map(r.getString(0) -> _)).toMap)
          .getOrElse(Map.empty)
        Lake.scopes(spark, root).foreach { scope =>
          registry.get(scope) match {
            case None if scope == graft.sources.ct.CtDataSource.Scope =>
              println(s"skip $scope: CT open data refreshes via CtDataSource.loadAll " +
                "(needs live dataset counts)")
            case None =>
              // HONEST skip, and a skip the operator can act on: a scope
              // loaded with an explicit --base-url (supported for
              // unregistered cities) is NOT CT data, and a message
              // claiming so while exiting 0 hid that it never refreshed
              System.err.println(s"skip $scope: not in the city registry — refresh it " +
                s"individually: graft refresh vgsi $scope --base-url <url> " +
                "(or register it via admin fetch-cities)")
            case Some(baseUrl0) =>
              try {
                val source = vgsiSourceFor(baseUrl0)
                val stats = Engine.runRefresh(spark, source, root, scope, config)
                println(s"refresh $scope: scraped=${stats.scraped} errors=${stats.errors} " +
                  f"${stats.entriesPerSecond}%.1f entries/s")
              } catch {
                case e: Exception =>
                  failures += 1
                  // print the CAUSE CHAIN, not just the top message: the
                  // engine wraps scrape failures ("circuit breaker: N
                  // consecutive errors"), and the actionable message —
                  // e.g. the TLS-handshake hint naming --no-verify-tls —
                  // lives down the chain
                  val chain = Iterator.iterate(e: Throwable)(_.getCause)
                    .takeWhile(_ != null).take(4)
                    .map(t => Option(t.getMessage).getOrElse(t.getClass.getSimpleName))
                    .distinct.mkString(" <- ")
                  System.err.println(s"refresh $scope failed: $chain")
              }
          }
        }
        if (failures > 0) sys.exit(1)

      case "admin" =>
        def requireScope(s: String): String = {
          val known = Lake.scopes(spark, root)
          if (!known.contains(s))
            sys.error(s"scope '$s' not found under $root; available: ${known.mkString(", ")}")
          s
        }
        // positional operands via a CHECKED accessor: a missing scope/uuid
        // is a usage error with a message, not an IndexOutOfBoundsException
        // stack trace after a full session spin-up
        def operand(i: Int, what: String): String = args.positional.lift(i).getOrElse {
          usage()
          sys.error(s"admin ${args.positional.lift(1).getOrElse("")}: missing $what operand")
        }
        args.positional.lift(1).getOrElse("scopes") match {
          case "scopes" => Lake.scopes(spark, root).foreach(println)
          case "fetch-cities" =>
            // the reference's `admin vgsi --fetch-cities` (source.py:900,
            // 706-736): scrape the VGSI index, upsert the city registry
            val url = args.flag("cities-url", VgsiSource.CitiesUrl)
            val cities = VgsiSource.parseCities(VgsiSource.httpGet(url, verifyTls = verifyTls))
            if (cities.isEmpty) sys.error(s"no VGSI city links found at $url")
            CityRegistry.upsert(spark, root,
              spark.createDataFrame(cities)
                .toDF("city_key", "city_name", "state", "url")
                .withColumn("type", lit("vgsi")))
            println(s"stored ${cities.size} cities from $url")
          case "tables" => Lake.tables(spark, root, requireScope(operand(2, "scope"))).foreach(println)
          case "compact" =>
            val scope = requireScope(operand(2, "scope"))
            // compactIfNeeded also handles hive-partitioned tables (per
            // leaf). minFiles=2: compact whenever there is anything to merge.
            Lake.tables(spark, root, scope)
              .foreach(t => Lake.compactIfNeeded(spark, root, scope, t, minFiles = 2))
            println(s"compacted $scope")
          case "migrate-uuid" =>
            // one-shot identity migration: page-town uuids -> scope-keyed
            // (UuidMigration scaladoc). Single-writer op like compact:
            // run it with no engine writing the scope.
            val scope = requireScope(operand(2, "scope"))
            val (entities, tables) = graft.lake.UuidMigration.migrate(spark, root, scope)
            println(
              if (tables == 0L) s"$scope already scope-keyed; nothing to do"
              else s"migrated $scope: $entities uuids remapped across $tables tables " +
                s"(audit in ${graft.lake.UuidMigration.MappingTable})")
          case "checkpoint" => println(Checkpoints.load(spark, root, requireScope(operand(2, "scope"))))
          case "current" =>
            val props = Lake.read(spark, root, requireScope(operand(2, "scope")), "properties")
            Scd.currentState(props, col("uuid"), col("scraped_at"), col("row_hash"))
              .show(20, truncate = false)
          case "history" =>
            val props = Lake.read(spark, root, requireScope(operand(2, "scope")), "properties")
            Scd.history(props, col("uuid"), operand(3, "uuid"), col("row_hash"), col("scraped_at"))
              .show(truncate = false)
          case "sql" =>
            // the reference's DuckDB-on-the-lake workflow (README.md:125-136)
            // as a one-liner: the lake mounts as catalog `graft`, the query
            // addresses tables as graft.<scope>.<table>. Checked operand
            // like the sibling subcommands: a forgotten query must be a
            // usage error, not spark.sql("")'s ParseException stack trace
            val query = args.positional.drop(2).mkString(" ").trim
            if (query.isEmpty) {
              usage()
              sys.error("admin sql: missing query operand")
            }
            graft.lake.GraftCatalog.register(spark, "graft", root)
            spark.sql(query).show(50, truncate = false)
          case other => sys.error(s"unknown admin command: $other")
        }

      case other =>
        usage()
        sys.error(s"unknown command: $other")
    } finally spark.stop()
  }

  private def usage(): Unit = println(
    """usage: graft <load|refresh|refresh-all|admin> [args]
      |  load vgsi <city> --entry-id-min 1 --entry-id-max 1000 [--workers 4 --rate 5 --data-dir data --base-url URL]
      |                   [--download-photos --photo-dir photos] [--no-verify-tls]
      |  (TLS certificate verification is ON by default; --no-verify-tls opts out for self-signed gis hosts)
      |  refresh vgsi <city> [flags]
      |  refresh-all [--data-dir data]
      |  admin scopes|tables <scope>|compact <scope>|checkpoint <scope>|current <scope>|history <scope> <uuid>
      |  admin migrate-uuid <scope>   (one-shot page-town -> scope-keyed uuid identity migration)
      |  admin fetch-cities [--cities-url URL]
      |  admin sql "SELECT * FROM graft.<scope>.<table> WHERE ..."
      |""".stripMargin)
}
