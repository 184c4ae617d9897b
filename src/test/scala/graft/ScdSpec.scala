package graft

import graft.scd.Scd
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** SCD2 query-time semantics — mirrors the reference's versioning scenarios
  * (/root/reference/tests/test_database.py:465-562).
  */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  // (uuid, scraped_at-ordinal, row_hash, value)
  private def lake = Seq(
    ("u1", 1, "h1", 100),
    ("u1", 2, "h1", 100), // unchanged re-scrape
    ("u1", 3, "h2", 200), // changed
    ("u2", 1, "h9", 900)
  ).toDF("uuid", "t", "row_hash", "value")

  test("currentState returns latest row per key (W1)") {
    val cur = Scd.currentState(lake, $"uuid", $"t")
    val got = cur.select($"uuid", $"value").as[(String, Int)].collect().toMap
    assert(got == Map("u1" -> 200, "u2" -> 900))
  }

  test("qualify filters by a window predicate (DuckDB QUALIFY sugar)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"uuid").orderBy($"t".desc)
    val cur = Scd.qualify(lake, row_number().over(w) === 1)
    assert(cur.columns.toSeq == lake.columns.toSeq) // helper column dropped
    val got = cur.select($"uuid", $"value").as[(String, Int)].collect().toMap
    assert(got == Map("u1" -> 200, "u2" -> 900))
    // agrees with currentState on the same lake
    assert(cur.collect().toSet == Scd.currentState(lake, $"uuid", $"t").collect().toSet)
  }

  test("withVersions numbers only content changes (W2+W3)") {
    val v = Scd.withVersions(lake, $"uuid", $"row_hash", $"t")
    val got = v.select($"uuid", $"t", $"version").as[(String, Int, Int)].collect().toSet
    // u1: t=1 (v1), t=3 (v2) — the t=2 duplicate content is not a version
    assert(got == Set(("u1", 1, 1), ("u1", 3, 2), ("u2", 1, 1)))
  }

  test("history for one entity is version-ordered (W4)") {
    val h = Scd.history(lake, $"uuid", "u1", $"row_hash", $"t")
    assert(h.select($"version").as[Int].collect().toSeq == Seq(1, 2))
  }

  test("changedSince returns only real changes after cutoff (W5)") {
    val c = Scd.changedSince(lake, $"uuid", $"row_hash", lit(2), $"t")
    val got = c.select($"uuid", $"t").as[(String, Int)].collect().toSeq
    assert(got == Seq(("u1", 3))) // t=2 is unchanged content; u2 never changed
  }

  test("refreshDedup drops rows whose hash already exists (J2)") {
    val incoming = Seq(("u1", 4, "h2", 200), ("u1", 5, "h3", 300)).toDF("uuid", "t", "row_hash", "value")
    val kept = Scd.refreshDedup(incoming, lake)
    assert(kept.select($"row_hash").as[String].collect().toSeq == Seq("h3"))
  }

  test("refreshDedupSnapshot re-records a content revert; full-history refreshDedup suppresses it") {
    // u1's chain is h1 → h2; an incoming REVERT back to h1 must re-record
    // under SCD2 semantics (the r14-documented limitation of the
    // full-history form)
    val revert = Seq(("u1", 4, "h1", 100)).toDF("uuid", "t", "row_hash", "value")
    assert(Scd.refreshDedup(revert, lake).isEmpty, "full-history form suppresses the revert (reference parity)")
    val kept = Scd.refreshDedupSnapshot(revert, lake, $"uuid", $"t")
    assert(kept.select($"row_hash").as[String].collect().toSeq == Seq("h1"))
    // and the chain then shows all three states
    val v = Scd.withVersions(lake.unionByName(revert), $"uuid", $"row_hash", $"t")
    assert(v.filter($"uuid" === "u1").select($"version").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // unchanged content still dedups (crash-rerun idempotency preserved)
    val rerun = Seq(("u1", 4, "h2", 200), ("u2", 4, "h9", 900)).toDF("uuid", "t", "row_hash", "value")
    assert(Scd.refreshDedupSnapshot(rerun, lake, $"uuid", $"t").isEmpty)
    // the key is whatever column the caller names: a renamed identity
    // column keeps snapshot semantics
    val renamed = Scd.refreshDedupSnapshot(revert.withColumnRenamed("uuid", "entity_id"),
      lake.withColumnRenamed("uuid", "entity_id"), $"entity_id", $"t")
    assert(renamed.select($"row_hash").as[String].collect().toSeq == Seq("h1"))
  }

  test("refreshDedupSnapshot: changed child-sets append WHOLE; duplicate siblings compare as a multiset") {
    // a child table: one property, TWO identical outbuildings recorded at
    // t=2 (the latest scrape). The multiset signature keeps both 'shed's;
    // an incoming set that differs in ANY member appends in full, so the
    // stored latest snapshot stays a complete coherent state
    val children = Seq(
      ("p1", 1, "old"),
      ("p1", 2, "shed"), ("p1", 2, "shed"), ("p1", 2, "barn")
    ).toDF("property_uuid", "t", "row_hash")
    val changed = Seq(("p1", 3, "shed"), ("p1", 3, "barn"), ("p1", 3, "silo"))
      .toDF("property_uuid", "t", "row_hash")
    val kept = Scd.refreshDedupSnapshot(changed, children, $"property_uuid", $"t")
      .select($"row_hash").as[String].collect().sorted.toSeq
    assert(kept == Seq("barn", "shed", "silo"),
      s"a changed snapshot appends WHOLE (coherent state), got: $kept")
    // identical re-scrape of the stored latest multiset drops whole —
    // including the duplicate sibling (a SET compare would wrongly match
    // {shed, barn} against {shed, shed, barn})
    val same = Seq(("p1", 3, "shed"), ("p1", 3, "shed"), ("p1", 3, "barn"))
      .toDF("property_uuid", "t", "row_hash")
    assert(Scd.refreshDedupSnapshot(same, children, $"property_uuid", $"t").isEmpty)
    val dropped = Seq(("p1", 3, "shed"), ("p1", 3, "barn"))
      .toDF("property_uuid", "t", "row_hash")
    assert(Scd.refreshDedupSnapshot(dropped, children, $"property_uuid", $"t").count() == 2L,
      "losing one duplicate sibling IS a change")
  }

  test("refreshDedupSnapshot: static data after a partial change never oscillates (regression)") {
    // the review-caught unsoundness of per-ROW dedup against the latest
    // stamp: load {A,B}@1, partial change to {A,B'}@2 appended only B'@2 —
    // then A is outside the 'latest' window and every later refresh of
    // STATIC {A,B'} re-appends half the snapshot in alternation, forever.
    // Snapshot semantics: the t=2 refresh appends BOTH rows (coherent
    // state), and the t=3 identical refresh appends NOTHING.
    val lake0 = Seq(("p1", 1, "hA"), ("p1", 1, "hB")).toDF("property_uuid", "t", "row_hash")
    val r1 = Seq(("p1", 2, "hA"), ("p1", 2, "hB2")).toDF("property_uuid", "t", "row_hash")
    val kept1 = Scd.refreshDedupSnapshot(r1, lake0, $"property_uuid", $"t")
    assert(kept1.count() == 2L, "partial change appends the whole new snapshot")
    val lake1 = lake0.unionByName(kept1)
    val r2 = Seq(("p1", 3, "hA"), ("p1", 3, "hB2")).toDF("property_uuid", "t", "row_hash")
    assert(Scd.refreshDedupSnapshot(r2, lake1, $"property_uuid", $"t").isEmpty,
      "static data after the change must append NOTHING — the oscillation bug")
  }

  test("fieldChanges reports the exact changed columns, null-safely") {
    val obs = Seq(
      ("u1", 1, Some("a"), Some(10)),
      ("u1", 2, Some("a"), Some(20)), // value changed
      ("u1", 3, None, Some(20)), // name -> null (null-safe: a change)
      ("u1", 4, None, Some(20)) // nothing changed
    ).toDF("uuid", "t", "name", "value")
    val got = Scd
      .fieldChanges(obs, $"uuid", Seq("name", "value"), $"t")
      .select($"t", $"is_first", $"changed_fields")
      .as[(Int, Boolean, Seq[String])]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(got == Seq(
      (1, true, Nil),
      (2, false, Seq("value")),
      (3, false, Seq("name")),
      (4, false, Nil)
    ))
  }

  test("upsert keeps newest row per key (S9)") {
    val base = Seq(("k1", 1, "old"), ("k2", 1, "keep")).toDF("key", "t", "v")
    val updates = Seq(("k1", 2, "new"), ("k3", 1, "ins")).toDF("key", "t", "v")
    val got = Scd
      .upsert(base, updates, $"key", $"t")
      .select($"key", $"v")
      .as[(String, String)]
      .collect()
      .toMap
    assert(got == Map("k1" -> "new", "k2" -> "keep", "k3" -> "ins"))
  }

  test("upsert: updates beat base at order ties; duplicate update keys resolve stably") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
    val base = Seq(("k1", "https://old.example.org/", t0)).toDF("city_key", "url", "updated_at")
    val updates = Seq(("k1", "https://new.example.org/", t0)).toDF("city_key", "url", "updated_at")
    // ON CONFLICT DO UPDATE always takes the update — CityRegistry stamps
    // a whole batch with ONE timestamp, so the tie is the normal case
    val won = Scd.upsert(base, updates, $"city_key", $"updated_at")
      .select($"url").as[String].head()
    assert(won == "https://new.example.org/", s"the update must win the tie, got $won")
    // duplicate keys WITHIN one updates batch at the same order value:
    // stable winner across runs (content-hash tiebreak, not arrival order)
    val dups = Seq(
      ("k2", "https://a.example.org/", t0),
      ("k2", "https://b.example.org/", t0)).toDF("city_key", "url", "updated_at")
    val winners = (1 to 3).map { _ =>
      Scd.upsert(base, dups, $"city_key", $"updated_at")
        .filter($"city_key" === "k2").select($"url").as[String].head()
    }
    assert(winners.distinct.size == 1, s"tie winner must be run-stable: $winners")
  }

  // the lake writers call refreshDedup or refreshDedupSnapshot by name; the
  // stamp-convention sniff (Streams.dedupByStampConvention) serves only
  // dynamic frames and never overrides a writer's choice
  test("refreshDedupForLake: the CALLER's explicit mode wins over what a column sniff would pick") {
    import java.sql.Timestamp
    val t1 = Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2026-01-02 00:00:00")
    val t3 = Timestamp.valueOf("2026-01-03 00:00:00")
    // entity e1's history: A then B; the incoming batch REVERTS to A
    val existing = Seq(("e1", t1, "hashA"), ("e1", t2, "hashB"))
      .toDF("uuid", "scraped_at", "row_hash")
    val incoming = Seq(("e1", t3, "hashA")).toDF("uuid", "scraped_at", "row_hash")

    // the full-history dedup suppresses the revert EVEN THOUGH
    // uuid+scraped_at are present (the sniff would pick snapshot semantics)
    assert(Scd.refreshDedup(incoming, existing).count() == 0L)
    // the snapshot dedup re-records it
    assert(Scd.refreshDedupSnapshot(incoming, existing, $"uuid", $"scraped_at").count() == 1L)
    // the sniffing fallback (dynamic frames only) infers snapshot here
    assert(Streams.dedupByStampConvention(incoming, existing).count() == 1L)

    // a RENAMED identity column: the sniff can only fall back to
    // full-history (suppressing the revert); a caller that knows its key
    // statically names it and keeps snapshot semantics
    val exR = existing.withColumnRenamed("uuid", "entity_id")
    val inR = incoming.withColumnRenamed("uuid", "entity_id")
    assert(Streams.dedupByStampConvention(inR, exR).count() == 0L,
      "sniff on a renamed key degrades to full-history")
    assert(Scd.refreshDedupSnapshot(inR, exR, $"entity_id", $"scraped_at").count() == 1L,
      "the named key keeps snapshot semantics under any column name")
  }

  test("requireSnapshotContract: a foreign schema fails naming the stamp contract") {
    import java.sql.Timestamp
    val incoming = Seq(("e1", Timestamp.valueOf("2026-01-01 00:00:00"), "h"))
      .toDF("uuid", "scraped_at", "row_hash")
    // a foreign schema staged into an engine scope under a colliding
    // table name: no uuid/scraped_at — the snapshot plan itself would
    // fail with an AnalysisException that says nothing about the contract
    val foreign = Seq((1, "x", "h")).toDF("id", "payload", "row_hash")
    val e = intercept[IllegalArgumentException] {
      Scd.requireSnapshotContract(incoming, foreign, "uuid")
    }
    assert(e.getMessage.contains("stamp convention"), e.getMessage)
    assert(e.getMessage.contains("uuid"), e.getMessage)
    assert(e.getMessage.contains("full-history refreshDedup"), e.getMessage)
  }
}
