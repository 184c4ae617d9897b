package graft.scd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query-time SCD Type-2 over an append-only lake.
  *
  * The reference derives versioning/current-state/change-detection entirely at
  * query time with window functions over `(uuid, scraped_at, row_hash)`
  * (/root/reference/scrapers/vgsi/source.py:813-864, README.md:125-136). These
  * are the Spark-native equivalents, generic over key/ordering/hash columns.
  *
  * Scale notes: every operator here induces exactly one hash-partition shuffle
  * on the entity key — the minimal plan for windowed SCD. At 100 TB the key
  * cardinality (one entity = one group) is high, so partitions stay balanced;
  * if the lake is bucketed by the key at write time the shuffle disappears
  * entirely (Spark reuses the bucketing as the window's required
  * distribution).
  */
object Scd {

  /** W1 — current state: latest row per entity. One window + filter; Spark has
    * no QUALIFY so the windowed column is filtered then dropped.
    */
  def currentState(df: DataFrame, key: Column, order: Column*): DataFrame = {
    require(!df.columns.contains("__rn"),
      "currentState writes helper column __rn; the input already has one — rename it first")
    val w = Window.partitionBy(key).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** DuckDB-QUALIFY sugar (README.md:127-128): filter rows by a window
    * predicate without hand-managing the helper column —
    * `Scd.qualify(df, row_number().over(w) === 1)` is the Spark spelling of
    * `QUALIFY ROW_NUMBER() OVER (...) = 1`. Catalyst plans the window once;
    * the helper column never outlives the filter.
    */
  def qualify(df: DataFrame, predicate: Column): DataFrame = {
    require(!df.columns.contains("__qualify"),
      "qualify writes helper column __qualify; the input already has one — rename it first")
    df.withColumn("__qualify", predicate)
      .filter(col("__qualify"))
      .drop("__qualify")
  }

  /** W2 — change detection: previous content hash alongside each row. */
  def withPrevHash(df: DataFrame, key: Column, hash: Column, order: Column*): DataFrame = {
    require(!df.columns.contains("prev_hash"),
      "withPrevHash writes output column prev_hash; the input already has one — rename it first")
    val w = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("prev_hash", lag(hash, 1).over(w))
  }

  /** W2+W3 — the SCD2 version chain: rows where content changed (or first
    * observation), numbered ascending per entity as `version`.
    */
  def withVersions(df: DataFrame, key: Column, hash: Column, order: Column*): DataFrame = {
    // a pre-existing version column would be silently overwritten (and a
    // pre-existing prev_hash silently DELETED by the internal drop —
    // withPrevHash's own guard catches that one)
    require(!df.columns.contains("version"),
      "withVersions writes output column version; the input already has one — rename it first")
    val changed = withPrevHash(df, key, hash, order: _*)
      .filter(col("prev_hash").isNull || hash =!= col("prev_hash"))
    val w = Window.partitionBy(key).orderBy(order: _*)
    changed.withColumn("version", row_number().over(w)).drop("prev_hash")
  }

  /** W4 — full version history for one entity, ordered by version.
    * The equality predicate on the key is pushed into the parquet scan
    * (row-group skipping via min/max stats), so this is a point query even
    * over a large lake.
    */
  def history(df: DataFrame, key: Column, keyValue: Any, hash: Column, order: Column*): DataFrame =
    withVersions(df.filter(key === lit(keyValue)), key, hash, order: _*)
      .orderBy(col("version"))

  /** W5 — entities whose content changed at-or-after `since`. */
  def changedSince(df: DataFrame, key: Column, hash: Column, since: Column, order: Column*): DataFrame =
    withPrevHash(df, key, hash, order: _*)
      .filter(order.head >= since && col("prev_hash").isNotNull && hash =!= col("prev_hash"))
      .orderBy(order.head.desc)

  /** Field-level change detection: for each observation, the sorted list of
    * `fields` whose value differs (null-safely) from the entity's previous
    * observation — the column-granular refinement of W2's row-hash compare.
    * First observations get an empty list and `is_first` = true.
    */
  def fieldChanges(df: DataFrame, key: Column, fields: Seq[String], order: Column*): DataFrame = {
    Seq("is_first", "changed_fields").foreach(c => require(!df.columns.contains(c),
      s"fieldChanges writes output column $c; the input already has one — rename it first"))
    val w = Window.partitionBy(key).orderBy(order: _*)
    val markers = fields.sorted.map { f =>
      when(!(col(f) <=> lag(col(f), 1).over(w)), lit(f)).otherwise(lit(null).cast("string"))
    }
    // row_number, not lag(order.head).isNull: with nulls-first ordering a
    // NULL-ordered first row makes the SECOND row's lag NULL too, mislabeling
    // it first and suppressing its genuine changed_fields
    df.withColumn("is_first", row_number().over(w) === 1)
      .withColumn(
        "changed_fields",
        when(col("is_first"), array().cast("array<string>"))
          .otherwise(filter(array(markers: _*), x => x.isNotNull))
      )
  }

  /** As-of query: each entity's state as of `ts` — the latest observation at
    * or before the cutoff (time travel over the append-only lake; the
    * natural extension of W1 the SURVEY §2.3 notes).
    */
  def asOf(df: DataFrame, key: Column, ts: Column, order: Column*): DataFrame =
    currentState(df.filter(order.head <= ts), key, order: _*)

  /** J2 — refresh dedup: drop incoming rows whose content hash already exists.
    * The existing-hash side is `DISTINCT row_hash` — orders of magnitude
    * smaller than the fact data (hashes are per-ENTITY-version, not per-row) —
    * so the anti-join is normally a map-side broadcast hash probe with zero
    * shuffle of the new data.
    *
    * Broadcast decision is deliberately left to the engine (no static
    * `broadcast()` hint): Spark hints are UNCONDITIONAL — a hinted build side
    * that outgrew the driver would OOM it rather than fall back — while with
    * AQE (on in [[graft.GraftSession]]) the runtime size of the distinct-hash
    * set picks the join: under `autoBroadcastJoinThreshold` the sort-merge
    * plan is demoted to broadcast with local shuffle reads (no exchange of
    * the new data over the wire), over it the join stays a real shuffle on
    * `hashCol` — the graceful degradation a ≫10⁹-entity lake needs.
    * `forceBroadcast = true` restores the hint for callers that know the
    * bound (e.g. a dimension registry).
    *
    * KNOWN LIMITATION (reference parity, database.py:65-78 loads ALL
    * distinct hashes): the anti-join is against the full HISTORY, so a
    * content REVERT (A → B → back to A) matches the historical hash and
    * is never re-recorded — currentState then reports B forever while
    * the live source shows A. This form is kept for reference-parity
    * callers; the SCD2-correct form is [[refreshDedupSnapshot]], which
    * the engines' refresh paths use (via [[refreshDedupForLake]]).
    */
  def refreshDedup(
      newRows: DataFrame,
      existing: DataFrame,
      hashCol: String = "row_hash",
      forceBroadcast: Boolean = false
  ): DataFrame = {
    val hashes = existing.select(hashCol).distinct()
    newRows.join(
      if (forceBroadcast) broadcast(hashes) else hashes,
      Seq(hashCol),
      "left_anti"
    )
  }

  /** J2, SCD2-correct form — SNAPSHOT refresh dedup: an entity's incoming
    * rows append WHOLE iff the multiset of their content hashes differs
    * from the entity's latest STORED snapshot's, and drop whole otherwise.
    * A content revert (A → B → back to A) re-records and the version
    * chain shows all three states — the semantics [[refreshDedup]]'s
    * full-history anti-join (reference parity) cannot give — and
    * crash-rerun idempotency is preserved (an unchanged batch's multiset
    * matches and drops).
    *
    * Set-compare per ENTITY, never per row: child tables record several
    * rows per entity per scrape (buildings, ownership…) and the lake is
    * append-only, so per-row dedup against "rows at the entity's max
    * order value" is UNSOUND — after any partial change only the changed
    * rows carry the new stamp, the unchanged siblings fall out of the
    * "latest" window, and every later refresh of STATIC data re-appends
    * half the snapshot in alternation, forever (one spurious append per
    * refresh, and every latest-snapshot read returns a torn subset).
    * Appending the whole changed snapshot keeps "the entity's rows at its
    * max order value" a COMPLETE, coherent state — which is also what
    * makes this very dedup's basis well-defined on the next round.
    * Single-row parents (properties) degenerate to the plain
    * one-hash compare.
    *
    * Scale shape: the existing side is pruned to (key, order, hash) — a
    * 3-column parquet scan — then ONE hash-partition shuffle on the key
    * shared by the rank window and the signature aggregate (same required
    * distribution, no second exchange; bucketing by the key removes it).
    * The incoming side aggregates batch-sized data; the changed-key set is
    * the delta (small in refresh steady-state) and AQE picks its join
    * shape (`forceBroadcast` restores the hint for known-bounded callers).
    */
  def refreshDedupSnapshot(
      newRows: DataFrame,
      existing: DataFrame,
      key: Column,
      order: Seq[Column],
      hashCol: String = "row_hash",
      forceBroadcast: Boolean = false
  ): DataFrame = {
    val changedKeys = snapshotChangedKeys(newRows, existing, key, order, hashCol, forceBroadcast)
    require(!newRows.columns.contains("__rd_key"),
      "refreshDedupSnapshot uses helper column __rd_key; the input already has one — rename it first")
    // null-safe semi-join: a null-keyed incoming group (no entity ever
    // stored) must append, not silently vanish on null === null
    newRows.join(changedKeys, key <=> col("__rd_key"), "left_semi")
  }

  /** The keys [[refreshDedupSnapshot]] keeps, as one column `__rd_key`:
    * every incoming key whose hash multiset differs from its latest stored
    * snapshot's, or that has none. A null incoming key never matches a
    * stored one, so it is always changed.
    */
  def snapshotChangedKeys(
      newRows: DataFrame,
      existing: DataFrame,
      key: Column,
      order: Seq[Column],
      hashCol: String = "row_hash",
      forceBroadcast: Boolean = false
  ): DataFrame = {
    require(order.nonEmpty, "refreshDedupSnapshot needs at least one order column")
    val orderAliases = order.zipWithIndex.map { case (c, i) => c.as(s"__rd_o$i") }
    val pruned = existing.select(key.as("__rd_key") +: orderAliases :+ col(hashCol).as("__rd_hash"): _*)
    val w = Window.partitionBy(col("__rd_key"))
      .orderBy(order.indices.map(i => col(s"__rd_o$i").desc): _*)
    // multiset signature of the entity's latest snapshot: rank (not
    // row_number) keeps every row tied at the newest order value;
    // sort_array makes the signature row-order independent
    val latestSig = pruned
      .withColumn("__rd_rank", rank().over(w))
      .filter(col("__rd_rank") === 1)
      .groupBy(col("__rd_key"))
      .agg(sort_array(collect_list(col("__rd_hash"))).as("__rd_sig"))
    val incomingSig = newRows
      .groupBy(key.as("__rd_key"))
      .agg(sort_array(collect_list(col(hashCol))).as("__rd_new_sig"))
    incomingSig
      .join(
        if (forceBroadcast) broadcast(latestSig) else latestSig,
        Seq("__rd_key"), "left")
      .filter(col("__rd_sig").isNull || col("__rd_sig") =!= col("__rd_new_sig"))
      .select(col("__rd_key"))
  }

  /** Which dedup semantics a lake write uses — passed EXPLICITLY by
    * callers that know their table's stamp convention statically
    * (the VGSI engine via [[graft.sources.Flatten.identityColumnOf]],
    * the CT source which has no per-row entity key), so a coincidental
    * column name or a schema rename can never silently flip the
    * semantics of the core write path (it could under the old
    * column-sniff dispatch; the sniff survives only as the logged
    * fallback for genuinely dynamic frames).
    */
  sealed trait RefreshDedupMode
  object RefreshDedupMode {
    /** Per-entity snapshot multiset compare ([[refreshDedupSnapshot]]):
      * reverts re-record; requires a per-row entity key + order stamp.
      */
    final case class Snapshot(key: String, order: String = "scraped_at") extends RefreshDedupMode
    /** Reference-parity full-history anti-join ([[refreshDedup]]). */
    case object FullHistory extends RefreshDedupMode
  }

  /** The ENGINES' refresh dedup, mode chosen by the CALLER: per-entity
    * snapshot set-compare for frames with an entity identity, the
    * reference-parity full-history anti-join otherwise. One entry point
    * so the batch engine, the CT source, and the streaming refresh twin
    * cannot drift on what each mode MEANS — while what mode a table GETS
    * is each caller's static knowledge, not a column sniff.
    */
  def refreshDedupForLake(
      newRows: DataFrame,
      existing: DataFrame,
      mode: RefreshDedupMode
  ): DataFrame = mode match {
    case m @ RefreshDedupMode.Snapshot(k, o) =>
      requireSnapshotContract(newRows, existing, m)
      refreshDedupSnapshot(newRows, existing, col(k), Seq(col(o)))
    case RefreshDedupMode.FullHistory =>
      refreshDedup(newRows, existing)
  }

  /** [[refreshDedupForLake]]'s Snapshot-mode contract precheck, with a
    * DIAGNOSABLE error: an existing lake table that does not carry the
    * stamp convention (e.g. a foreign schema staged into an engine scope
    * under a colliding table name) would otherwise fail deep inside the
    * snapshot plan as an unresolved-column AnalysisException on every
    * batch, with nothing pointing at the mode/contract mismatch. The plan
    * reads key+order+hash from the existing side but only key+hash from
    * the incoming batch; row_hash is in BOTH need lists.
    */
  def requireSnapshotContract(
      newRows: DataFrame,
      existing: DataFrame,
      mode: RefreshDedupMode.Snapshot
  ): Unit = {
    val RefreshDedupMode.Snapshot(k, o) = mode
    Seq(("incoming batch", newRows, Seq(k, "row_hash")),
        ("existing lake table", existing, Seq(k, o, "row_hash")))
      .foreach { case (side, df, need) =>
        val missing = need.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"refreshDedupForLake(Snapshot($k, $o)): the $side is missing column(s) " +
            s"${missing.mkString(", ")} — this table does not follow the stamp convention " +
            "the caller declared (was a foreign schema staged into this scope under an " +
            "engine table name?); resolve the collision or dedup it with FullHistory")
      }
  }

  /** Guarded FALLBACK for genuinely dynamic frames (the generic staged
    * file-stream, where no static table contract exists): infer the mode
    * from the stamp convention's column names and LOG which form was
    * chosen — an operator staging a frame that coincidentally carries
    * `uuid`+`scraped_at` should be able to see the semantics switch in
    * the log rather than discover it from dedup behavior. Callers with
    * static knowledge must use the explicit-mode overload.
    */
  def refreshDedupForLake(newRows: DataFrame, existing: DataFrame): DataFrame = {
    val both = newRows.columns.toSet.intersect(existing.columns.toSet)
    val mode = Seq("uuid", "property_uuid").find(both.contains) match {
      case Some(k) if both.contains("scraped_at") => RefreshDedupMode.Snapshot(k)
      case _ => RefreshDedupMode.FullHistory
    }
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"refreshDedupForLake: inferred $mode from columns " +
        s"(explicit-mode overload avoids the sniff)")
    refreshDedupForLake(newRows, existing, mode)
  }

  /** S9 — upsert for a small dimension table (vanilla Spark has no MERGE):
    * union the updates over the base and keep the newest row per key via W1.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: Column, order: Column*): DataFrame = {
    // MERGE semantics need a DETERMINISTIC winner at order-value ties:
    // updates beat base (ON CONFLICT DO UPDATE always takes the update —
    // CityRegistry stamps a whole batch with one timestamp, so ties are
    // the NORMAL case there), and duplicate keys inside one updates batch
    // resolve by row-content hash — stable across runs, where a bare
    // row_number over an exact tie picks by shuffle arrival order and a
    // corrected URL landed in the registry only sometimes.
    require(!base.columns.contains("__src") && !updates.columns.contains("__src"),
      "upsert writes helper column __src; an input already has one — rename it first")
    val all = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)), allowMissingColumns = true)
    val tie = xxhash64(to_json(struct(all.columns.filter(_ != "__src").map(col): _*)))
    currentState(all, key, (order :+ col("__src") :+ tie): _*).drop("__src")
  }
}
