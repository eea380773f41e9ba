package graft

/** Pins for [[Tables]]' corpus normalization. */
class TablesSpec extends SparkSpec {

  test("events ts normalization is session-zone independent and mutates no session conf") {
    val utc = Tables.table(spark, sfDir, "events")
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap

    // An externally-created session on a non-UTC host: same SparkContext,
    // independent conf. The NTZ wall-clock must still be read as UTC
    // instants (the engine convention), and reading events must NOT
    // overwrite the session's own zone (the old fix silently did, changing
    // the semantics of every subsequent timestamp op in that session).
    val tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    val viaTokyo = Tables.table(tokyo, sfDir, "events")
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap

    assert(tokyo.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo",
      "reading events must not rewrite the session time zone")
    assert(viaTokyo == utc,
      "instants must be identical under any session zone")
    assert(utc.nonEmpty)
  }

  test("NTZ normalization is exact through DST-ambiguous session wall-clocks") {
    // A DST session zone is the adversarial case: instants that land in the
    // zone's fall-back overlap (two offsets share one wall-clock) or
    // spring-forward gap (no offset has that wall-clock) break any
    // normalization that round-trips through the session-local wall-clock.
    // 2026-11-01 09:30Z maps to America/Los_Angeles wall 01:30 PST — the
    // SECOND occurrence of 01:30 that morning; a rebase-then-cast picks the
    // first (PDT) and lands an hour early. 2026-03-08 10:30Z sits right
    // after the spring-forward gap. Both must round-trip exactly.
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    import org.apache.spark.sql.functions._
    val walls = Seq(
      "2026-11-01 08:30:00.123456", // -> LA 01:30 PDT (first pass)
      "2026-11-01 09:30:00.000001", // -> LA 01:30 PST (ambiguous twin)
      "2026-03-08 10:30:00.5",      // spring-forward morning
      "2026-06-15 12:00:00")        // plain summer control
    val df = {
      import la.implicits._
      walls.toDF("w").select(
        col("w"),
        to_timestamp_ntz(col("w")).as("ts"))
    }
    val out = Tables.normalizeEventsTs(df)
      .select(col("w"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    walls.foreach { w =>
      val ldt = java.time.LocalDateTime.parse(w.replace(' ', 'T'))
      val exactUs = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L
      assert(out(w) == exactUs, s"$w -> ${out(w)} != $exactUs")
    }
  }

  test("table-handle memo evicts dead sessions and keeps live ones (round 21)") {
    // The memo is keyed by SparkSession; a long-lived multi-session service
    // must not pin stopped sessions' frames forever. A real stop() would
    // kill the suite's shared SparkContext, so the spec drives the same
    // eviction mechanics through the predicate entry point.
    val live1 = Tables.table(spark, sfDir, "nation")
    val doomed = spark.newSession()
    Tables.table(doomed, sfDir, "nation")
    Tables.table(doomed, sfDir, "region")
    val before = Tables.cachedEntriesForTest
    Tables.purgeWhere(_ eq doomed)
    val after = Tables.cachedEntriesForTest
    assert(after <= before - 2,
      s"purge must drop the dead session's entries ($before -> $after)")
    // The live session's memo survives: same handle instance on re-access.
    assert(Tables.table(spark, sfDir, "nation") eq live1,
      "live-session entries must survive the purge (memo hit = same handle)")
  }

  test("views follow the latest registered dir: A, then B, then A reads A") {
    // a fresh session: temp views are session-scoped, so re-pointing them
    // here leaves the suite's shared session untouched
    val s = spark.newSession()
    val other = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val want = Tables.table(s, sfDir, "lineitem").count()
    assert(Tables.table(s, other, "lineitem").count() != want)
    Tables.registerViews(s, sfDir)
    Tables.registerViews(s, other)
    Tables.registerViews(s, sfDir)
    assert(s.sql("SELECT count(*) FROM lineitem").head().getLong(0) == want)
  }
}
