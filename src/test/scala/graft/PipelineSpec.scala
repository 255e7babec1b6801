package graft

import graft.etl.Etl
import graft.ingest.Ingest
import graft.mart.{Mart, MartStaging}
import graft.model.Strings
import graft.storage.Lakehouse
import org.apache.spark.sql.functions._

/** End-to-end 3-day replay of the reference protocol (README.md:26-54):
  * per day: load fixture → normalize → addReportData, for each SCD family.
  * Fixtures are the reference's own daily snapshots converted to parquet
  * (tools/xlsx_to_parquet.py).
  */
class PipelineSpec extends SparkSpec {

  private def fixture(day: Int): String =
    getClass.getResource(s"/fixtures/day$day.parquet").getPath

  private val clock = ts("2020-05-09 12:00:00")

  private def replay(scd: MartStaging.ScdType): Lakehouse = {
    val lake = new Lakehouse(spark, tmpDir("pipeline"))
    (1 to 3).foreach { day =>
      Ingest.loadDayFromParquet(lake, fixture(day))
      Etl.normalizeTransactions(lake)
      Mart.addReportData(lake, scd, clock)
    }
    lake
  }

  test("scd2 replay: 3 days end-to-end") {
    val lake = replay(MartStaging.Scd2Dims)

    // fact accumulates exactly the per-day rows: 808 + 826 + 830
    assert(lake.read("fact_transactions").count() === 2464)
    // landing truncated after each normalize
    assert(lake.read("denormalized").count() === 0)

    // SCD2 invariants: exactly one open row per key; intervals chain
    val dims = Seq("dim_terminals_hist" -> "terminal_id",
      "dim_cards_hist" -> "card_num", "dim_accounts_hist" -> "account_num",
      "dim_clients_hist" -> "client_id")
    dims.foreach { case (dim, key) =>
      val open = lake.read(dim).filter(col("end_dt").isNull)
        .groupBy(col(key)).count().filter(col("count") > 1).count()
      assert(open === 0, s"$dim has keys with >1 open row")
    }
    assert(lake.read("dim_terminals_hist").count() >= 100)
    assert(lake.read("dim_clients_hist").count() >= 100)

    val report = lake.read("report").cache()
    val byType = report.groupBy(col("fraud_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // all four fraud types fire on the reference data
    assert(byType.keySet === Set(Strings.FraudExpiredPassport,
      Strings.FraudExpiredContract, Strings.FraudCityHop,
      Strings.FraudAmountGuessing))
    assert(report.filter(col("report_dt") =!= lit(clock)).count() === 0)
    // regression pin: exact per-type counts, validated row-identical against
    // the independent DuckDB replay (tools/replay_duckdb.py DIFFERENTIAL PASS)
    assert(byType === Map(
      Strings.FraudCityHop -> 682L,
      Strings.FraudExpiredContract -> 26L,
      Strings.FraudExpiredPassport -> 20L,
      Strings.FraudAmountGuessing -> 2L))
    report.unpersist()
  }

  test("scd1 replay: 3 days end-to-end") {
    val lake = replay(MartStaging.Scd1Dims)
    assert(lake.read("fact_transactions").count() === 2464)
    // SCD1 dims: one row per key (terminals deduped; others may carry the
    // duplicate-insert quirk only for multi-combo first batches)
    assert(lake.read("dim_terminals").count() === 100)
    val report = lake.read("report")
    val byType = report.groupBy(col("fraud_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // identical to scd2 on this data (no dim attribute ever regresses)
    assert(byType === Map(
      Strings.FraudCityHop -> 682L,
      Strings.FraudExpiredContract -> 26L,
      Strings.FraudExpiredPassport -> 20L,
      Strings.FraudAmountGuessing -> 2L))
  }

  test("a fact row with a NULL trans_date rides through the mart") {
    // the row lands in `trans_dt_day=__HIVE_DEFAULT_PARTITION__`: the
    // layout can no longer prove the newest day, so the cutoff falls
    // back to the scan (which ignores the NULL) and the report is the
    // pinned one
    val lake = new Lakehouse(spark, tmpDir("pipeline-nullday"))
    (1 to 3).foreach { day =>
      Ingest.loadDayFromParquet(lake, fixture(day))
      Etl.normalizeTransactions(lake)
      if (day == 3) {
        val fact = lake.read("fact_transactions")
        val row = fact.limit(1)
          .withColumn("trans_id", lit("null-day"))
          .withColumn("trans_date", lit(null).cast("timestamp"))
          .collect().toSeq
        lake.appendPartitionedByDay("fact_transactions",
          spark.createDataFrame(
            spark.sparkContext.parallelize(row, 1), fact.schema),
          "trans_date")
      }
      Mart.addReportData(lake, MartStaging.Scd1Dims, clock)
    }
    assert(lake.maxPartitionDay("fact_transactions").isEmpty)
    assert(lake.readWithPartitionColumns("fact_transactions")
      .filter(col("trans_dt_day").isNull)
      .select("trans_id").collect().map(_.getString(0)).toSeq ==
      Seq("null-day"))
    val byType = lake.read("report").groupBy(col("fraud_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map(
      Strings.FraudCityHop -> 682L,
      Strings.FraudExpiredContract -> 26L,
      Strings.FraudExpiredPassport -> 20L,
      Strings.FraudAmountGuessing -> 2L))
  }

  test("day-4 churn: SCD2 closes and SCD1 updates fire, invariants hold") {
    // day4.parquet (tools/make_day4.py) mutates 30 terminals, ~20 clients,
    // 20 accounts, 15 cards; row-identical to the DuckDB replay over
    // 4 days (tools/replay_duckdb.py scd2|scd1 <dir> 4)
    val lake = new Lakehouse(spark, tmpDir("pipeline4"))
    (1 to 4).foreach { day =>
      Ingest.loadDayFromParquet(lake, fixture(day))
      Etl.normalizeTransactions(lake)
      Mart.addReportData(lake, MartStaging.Scd2Dims, clock)
    }
    val closedTerminals = lake.read("dim_terminals_hist")
      .filter(col("end_dt").isNotNull).count()
    assert(closedTerminals === 31) // 1 from day 1-3 + 30 churned
    // still exactly one open row per key
    val dupOpen = lake.read("dim_terminals_hist")
      .filter(col("end_dt").isNull)
      .groupBy(col("terminal_id")).count().filter(col("count") > 1).count()
    assert(dupOpen === 0)
    // SCD1 updates fired too (normalize builds both families regardless of
    // which mart branch is queried): 1 from days 1-3 + 30 churned
    val updatedScd1 = lake.read("dim_terminals")
      .filter(col("update_dt").isNotNull).count()
    assert(updatedScd1 === 31)
    assert(lake.read("report").count() === 1181) // pinned vs differential
  }

  test("mart rerun duplicates report rows (reference non-idempotence preserved)") {
    // each run covers the last-day window only, so a rerun re-appends
    // exactly that window's rows — twice the same delta, no dedup
    val lake = replay(MartStaging.Scd2Dims)
    val n0 = lake.read("report").count()
    Mart.addReportData(lake, MartStaging.Scd2Dims, clock)
    val n1 = lake.read("report").count()
    Mart.addReportData(lake, MartStaging.Scd2Dims, clock)
    val n2 = lake.read("report").count()
    assert(n1 - n0 > 0)
    assert(n1 - n0 === n2 - n1)

    // extension: idempotent mode anti-joins existing fraud identities
    val n3 = Mart.addReportData(lake, MartStaging.Scd2Dims, clock,
      idempotent = true).count()
    assert(n3 === n2)
  }

  test("single-writer replay enters ZERO protocol wait loops") {
    // Round-11 verdict item 1: BENCH_r11's q49 read 164 s where a
    // fresh-JVM repro read 21 s, and the engine had three UNMETERED
    // stall points (awaitSelfAbort 30 s/delta, fullRaceWaitMs 10 s,
    // retryChecksum) any of which could silently produce that number —
    // a wait that clears before its deadline returns success and left
    // no trace. This spec pins the invariant the bench relies on: a
    // single-writer replay must never enter ANY protocol wait/retry
    // loop. If a future classification false-positive makes a
    // single-writer commit wait, this fails here — not as an
    // unexplainable number in a driver artifact.
    graft.storage.ProtocolTelemetry.reset()
    replay(MartStaging.Scd2Dims)
    replay(MartStaging.Scd1Dims)
    val snap = graft.storage.ProtocolTelemetry.snapshot()
    assert(snap.isEmpty,
      s"single-writer replay entered protocol wait loops: ${
        graft.storage.ProtocolTelemetry.render(snap)}")
  }
}
