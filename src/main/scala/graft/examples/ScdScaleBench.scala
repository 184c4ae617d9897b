package graft.examples

import graft.SparkEntry
import graft.lake.Lake
import graft.scd.Scd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation for the SCD / relational PRODUCT surface —
  * the windowed queries (q11–q17), the J2 refresh anti-join, and
  * compaction — the same treatment [[ScaleBench]] gives the dedup/CC/ANN
  * families. Two growth axes, because an append-only entity lake grows in
  * two distinct ways with different plan consequences:
  *
  *  - ENTITIES (`e`): more users. Window partition COUNT grows, partition
  *    size constant — the healthy high-cardinality regime the SCALE.md
  *    shuffle inventory assumes.
  *  - VERSION DEPTH (`v`): more observations per user. Partition count
  *    constant, per-partition chains grow — the regime that stresses
  *    per-key sort cost and anything accidentally quadratic in chain
  *    length.
  *
  * Scaling discipline (same bar as ScaleBench's cipher): copies must grow
  * the PROBLEM, not change its geometry.
  *  - entity copy `e`: `user_id + e·EntityOff` (new users, same event sets),
  *    `event_id` offset to stay unique, props tagged per copy so GLOBAL
  *    content hashes stay distinct (J2's existing-hash set must scale with
  *    the lake; untagged copies would collapse it).
  *  - depth copy `d`: `ts + d·DepthSpanNs` (40 days > the base's 30-day
  *    span, so copies append strictly AFTER prior ones — deeper chains,
  *    never interleaved rewrites of history), props tagged per copy.
  *  - Tag concatenation preserves within-chain equality structure exactly
  *    (x == y ⟺ tagged x == tagged y for a fixed tag), so version counts
  *    obey an EXACT law: versions(e,v) = e·v·versions(base) —
  *    [[graft.ScdScaleLawsSpec]] pins that law (and the q13/q15 point-query
  *    flatness law) in CI; this bench measures the wall-clock curves.
  *
  * The raw events parquet has shipped as both TIMESTAMP(NANOS) (read as a
  * plain long via `nanosAsLong`, see [[graft.GraftSession]]) and tz-less
  * micros; [[scaleEvents]] normalizes `ts` to the nanos long either way,
  * copies are written back with `ts` as that long, which [[graft.Tables]]
  * converts identically — so a scaled dir is a drop-in `Tables` dir.
  *
  * Usage: runMain graft.examples.ScdScaleBench [baseSfDir] [scratchDir] [axesCsv]
  * (axesCsv e.g. "e1v1,e10v1,e1v10,e30v1"; that is the default). Prints one
  * JSON line per (axis, measurement) and a growth summary; reruns reuse
  * materialized corpora. Wall-clock on this host is 2–3× noisy — read the
  * GROWTH RATIOS of min-of-2 times, never cross-run absolutes.
  */
object ScdScaleBench {

  /** The SCD/window queries of the graded surface. q13 and q15 carry
    * fixture-pinned entity filters (`user_id < 20` / `< 5`) — they are the
    * POINT-QUERY flatness probes: their work should track the pinned subset
    * (constant across entity growth, linear only in depth), not the lake.
    */
  private val Queries = Seq(
    "q11_current_state",
    "q12_change_detect",
    "q13_scd2_versions",
    "q14_changed_since",
    "q15_running_sum",
    "q16_rollup",
    "q17_sessionize"
  )

  final case class Axis(e: Int, v: Int) {
    def label: String = s"e${e}v$v"
    def factor: Int = e * v
  }

  private val EntityOff = 10000000L // user_id namespace per entity copy
  private val EIdOff = 1000000000L // event_id namespace per entity copy
  private val DIdOff = 1000000000000L // event_id namespace per depth copy
  private val DepthSpanNs = 40L * 86400 * 1000000000L // 40 days in ns

  /** One (entity-copy, depth-copy) transform of the raw events table.
    * `ts` is the nanosAsLong long. Props are tag-suffixed per copy:
    * equality within a chain is preserved, cross-copy hashes distinct.
    */
  private def copyOf(base: DataFrame, e: Int, d: Int): DataFrame =
    base.select(
      (col("event_id") + e * EIdOff + d * DIdOff).as("event_id"),
      (col("ts") + d * DepthSpanNs).as("ts"),
      (col("user_id") + e * EntityOff).as("user_id"),
      col("event_type"),
      col("value"),
      concat_ws("#", col("props"), lit(s"c${e}x$d")).as("props")
    )

  def scaleEvents(spark: SparkSession, baseDir: String, e: Int, v: Int): DataFrame = {
    // normalize ts to a nanos long whatever the parquet physical type is
    // (TIMESTAMP(NANOS) reads as long via nanosAsLong; later testdata
    // generations ship tz-less micros) — every depth-copy offset and every
    // downstream ordering treats ts as that long
    val raw = spark.read.parquet(s"$baseDir/events.parquet")
    val base = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn(
          "ts",
          expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
    require(e >= 1 && v >= 1, "axes start at 1")
    require(e < 100 && v < 1000, "offset namespaces sized for e<100, v<1000")
    (for { ec <- 0 until e; dc <- 0 until v } yield copyOf(base, ec, dc))
      .reduce(_ unionByName _)
  }

  private def materialize(spark: SparkSession, baseDir: String, scratch: String, ax: Axis): String = {
    val dir = s"$scratch/${ax.label}"
    val marker = new java.io.File(s"$dir/_READY")
    // marker carries the producing baseDir + the base file's (mtime, size)
    // (see ScaleBench.materialize): existence alone would reuse a stale
    // corpus from a different base, and a path-only tag cannot see the
    // driver regenerating testdata IN PLACE at the same path
    val tag = {
      val f = new java.io.File(s"$baseDir/events.parquet")
      s"$baseDir@${f.lastModified}:${f.length}"
    }
    val fresh = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == tag
    if (!fresh) {
      scaleEvents(spark, baseDir, ax.e, ax.v).write.mode("overwrite").parquet(s"$dir/events.parquet")
      java.nio.file.Files.write(marker.toPath, tag.getBytes("UTF-8"))
    }
    dir
  }

  private def time2(spark: SparkSession)(body: => Unit): Double = {
    def once(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** J2 at scale: a refresh batch half duplicate (a replay of the newest
    * depth copy) and half fresh. Measures the auto (AQE-decided) join and
    * the forced-shuffle shape (broadcast disabled), and CHECKS the row law:
    * kept == fresh exactly — a dedup that drops or admits the wrong rows at
    * 30× is a correctness bug no timing hides.
    */
  private def benchRefresh(spark: SparkSession, dir: String, ax: Axis): Seq[(String, Double)] = {
    val lake = spark.read
      .parquet(s"$dir/events.parquet")
      .withColumn("row_hash", md5(col("props")))
    val replay = lake.filter(col("event_id") >= (ax.v - 1) * DIdOff) // newest depth copy, verbatim
    val fresh = replay.withColumn("row_hash", md5(concat(col("props"), lit("#new"))))
    val batch = replay.unionByName(fresh)
    val freshRows = fresh.count()
    var kept = 0L
    val tAuto = time2(spark) { kept = Scd.refreshDedup(batch, lake).count() }
    require(kept == freshRows, s"J2 row law violated at ${ax.label}: kept $kept of $freshRows fresh")
    val tShuffle = time2(spark) {
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try kept = Scd.refreshDedup(batch, lake).count()
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    require(kept == freshRows, s"J2 row law violated (shuffle mode) at ${ax.label}")
    Seq("j2_refresh_auto" -> tAuto, "j2_refresh_shuffle" -> tShuffle)
  }

  /** The engine's refresh dedup at scale ([[Scd.refreshDedupSnapshot]];
    * the batch engine runs its [[Scd.snapshotChangedKeys]] plan):
    * per-entity multiset compare of the incoming batch against the
    * entity's latest stored snapshot. The batch is every entity's latest
    * snapshot with HALF the entities perturbed (odd user_id → one changed
    * hash): changed entities must append WHOLE, unchanged ones drop
    * WHOLE — the row law `kept == changed-entity rows` is exact and
    * checked at every axis. The batch is MATERIALIZED to parquet outside
    * the timed body (its own window over the lake must not pollute the
    * measurement); the timed cost is the design claim under test — a
    * 3-column pruned scan of the existing side plus ONE key shuffle
    * shared by the rank window and the signature aggregate (the law
    * should track the lake's entity count like q14's, not blow up).
    */
  private def benchRefreshSnapshot(spark: SparkSession, dir: String, ax: Axis): Seq[(String, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val lake = spark.read
      .parquet(s"$dir/events.parquet")
      .withColumn("row_hash", md5(col("props")))
    val batchPath = s"$dir/snapshot_batch.parquet"
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
    lake
      .withColumn("__rk", rank().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
      .withColumn(
        "row_hash",
        when(pmod(col("user_id"), lit(2)) === 1, md5(concat(col("props"), lit("#new"))))
          .otherwise(col("row_hash")))
      .write.mode("overwrite").parquet(batchPath)
    val batch = spark.read.parquet(batchPath)
    val changedRows = batch.filter(pmod(col("user_id"), lit(2)) === 1).count()
    var kept = 0L
    val t = time2(spark) {
      kept = Scd
        .refreshDedupSnapshot(batch, lake, col("user_id"), col("ts"))
        .count()
    }
    require(kept == changedRows,
      s"snapshot refresh row law violated at ${ax.label}: kept $kept, expected $changedRows")
    Seq("snapshot_refresh" -> t)
  }

  /** Compaction at scale: the scaled table written as ~100·factor small
    * files (the post-many-refreshes state), then byte-targeted
    * `Lake.compact`. The curve to watch is sec per byte — flat means the
    * rewrite is I/O-bound as designed, not file-count-bound.
    */
  private def benchCompact(spark: SparkSession, dir: String, ax: Axis): Seq[(String, Double)] = {
    val root = s"$dir/lake"
    val (scope, table) = ("scale", "events_frag")
    val path = s"$root/$scope/$table"
    spark.read
      .parquet(s"$dir/events.parquet")
      .repartition(100 * ax.factor)
      .write
      .mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)
    val filesBefore = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    // re-fragment OUTSIDE the timed body: folding it inside made the second
    // rep time refragment+compact while the first timed compact alone — the
    // min-of-2 discipline degraded to one sample, and a noisy first rep put
    // a whole-table rewrite into the reported compaction curve
    def refragment(): Unit =
      spark.read.parquet(path).repartition(100 * ax.factor)
        .write.mode("overwrite").option("compression", "zstd").parquet(path)
    def onceCompact(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      Lake.compact(spark, root, scope, table, targetFileBytes = 64L * 1024 * 1024)
      (System.nanoTime() - t0) / 1e9
    }
    val t1 = onceCompact()
    refragment()
    val t = math.min(t1, onceCompact())
    val filesAfter = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    println(
      s"""{"bench":"scd_scale","axis":"${ax.label}","query":"compact_files","before":$filesBefore,"after":$filesAfter}""")
    Seq("compact" -> t)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scratch =
      if (args.length > 1) args(1) else s"${sys.props("java.io.tmpdir")}/graft_scale_scd"
    val axes: Seq[Axis] =
      (if (args.length > 2) args(2) else "e1v1,e10v1,e1v10,e30v1")
        .split(",")
        .toSeq
        .map(_.trim)
        .map { s =>
          val m = "e(\\d+)v(\\d+)".r.findFirstMatchIn(s).getOrElse(sys.error(s"bad axis: $s"))
          Axis(m.group(1).toInt, m.group(2).toInt)
        }
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).agg(sum(col("id"))).collect() // warm-up

    val results = axes.map { ax =>
      val dir = materialize(spark, baseDir, scratch, ax)
      val queryTimes = Queries.map { q =>
        var rows = 0L
        val t = time2(spark) { rows = SparkEntry.queries(q)(spark, dir).count() }
        println(s"""{"bench":"scd_scale","axis":"${ax.label}","factor":${ax.factor},"query":"$q","sec":$t,"rows":$rows}""")
        q -> t
      }
      val extras = benchRefresh(spark, dir, ax) ++ benchRefreshSnapshot(spark, dir, ax) ++
        benchCompact(spark, dir, ax)
      extras.foreach { case (q, t) =>
        println(s"""{"bench":"scd_scale","axis":"${ax.label}","factor":${ax.factor},"query":"$q","sec":$t}""")
      }
      ax -> (queryTimes ++ extras)
    }.toMap

    val base = axes.minBy(_.factor)
    val names = Queries ++ Seq("j2_refresh_auto", "j2_refresh_shuffle", "snapshot_refresh", "compact")
    val summary = names.map { q =>
      val t1 = results(base).toMap.apply(q)
      val g = axes.map(ax => s""""${ax.label}":${f"${results(ax).toMap.apply(q) / t1}%.1f"}""").mkString("{", ",", "}")
      s""""$q":{"sec_${base.label}":$t1,"growth":$g}"""
    }.mkString("{", ",", "}")
    println(s"""{"bench":"scd_scale_summary","base":"$baseDir","axes":[${axes.map(a => s""""${a.label}"""").mkString(",")}],"queries":$summary}""")
    spark.stop()
  }
}
