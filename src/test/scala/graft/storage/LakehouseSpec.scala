package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Crash-safety of the versioned-overwrite commit protocol
  * (Lakehouse.overwrite): a failure at ANY point before the commit marker
  * is created must leave the previous snapshot fully readable.
  */
class LakehouseSpec extends SparkSpec {
  import spark.implicits._

  private def dimDf(cards: (String, String)*) =
    spark.createDataFrame(
      cards.toDF("card_num", "account_num")
        .withColumn("create_dt", org.apache.spark.sql.functions
          .lit(ts("2020-05-01 00:00:00")))
        .withColumn("update_dt", org.apache.spark.sql.functions
          .lit(null).cast("timestamp")).rdd,
      graft.model.Schemas.dimCards)

  test("overwrite round-trips and keeps exactly one committed version") {
    val lake = new Lakehouse(spark, tmpDir("lake-ow"))
    lake.overwrite("dim_cards", dimDf("c1" -> "a1"))
    lake.overwrite("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))
    assert(lake.read("dim_cards").count() == 2)
    val fs = new Path(lake.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new Path(lake.tablePath("dim_cards")))
      .map(_.getPath.getName).filter(_.startsWith("_v"))
    assert(versions.toSeq == Seq("_v2"), s"expected only _v2, got ${versions.toSeq}")
  }

  test("crash between snapshot write and commit preserves the old snapshot") {
    val lake = new Lakehouse(spark, tmpDir("lake-crash"))
    lake.overwrite("dim_cards", dimDf("c1" -> "a1"))
    val boom = intercept[RuntimeException] {
      lake.overwrite("dim_cards", dimDf("cX" -> "aX"),
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    assert(boom.getMessage == "crash")
    // the new _v2 dir exists on disk but is uncommitted — readers must
    // still see v1
    val rows = lake.read("dim_cards").select("card_num").as[String].collect()
    assert(rows.toSeq == Seq("c1"))
    // recovery: the next overwrite commits and GCs the orphaned version
    lake.overwrite("dim_cards", dimDf("c2" -> "a2"))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c2"))
  }

  test("overwrite migrates a plain append layout and shadows nothing") {
    val lake = new Lakehouse(spark, tmpDir("lake-migrate"))
    lake.append("dim_cards", dimDf("old1" -> "a", "old2" -> "b"))
    lake.overwrite("dim_cards", dimDf("new1" -> "c"))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("new1"))
  }

  test("append after overwrite reads as full + delta chain") {
    val lake = new Lakehouse(spark, tmpDir("lake-append"))
    lake.overwrite("dim_cards", dimDf("c1" -> "a1"))
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    assert(lake.read("dim_cards").count() == 2)
    // a later overwrite still replaces everything
    lake.overwrite("dim_cards", dimDf("c9" -> "a9"))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c9"))
  }

  test("crash mid-append leaves the previous rows readable") {
    val lake = new Lakehouse(spark, tmpDir("lake-append-crash"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    intercept[RuntimeException] {
      lake.append("dim_cards", dimDf("cX" -> "aX"),
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c1"))
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().sorted.toSeq == Seq("c1", "c2"))
  }

  test("compact rewrites many small files into few, data unchanged") {
    val lake = new Lakehouse(spark, tmpDir("lake-compact"))
    (1 to 5).foreach(i => lake.append("dim_cards", dimDf(s"c$i" -> s"a$i")))
    val before = lake.read("dim_cards").select("card_num").as[String]
      .collect().sorted.toSeq
    lake.compact("dim_cards", numFiles = 1)
    val fs = new Path(lake.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new Path(lake.dataPath("dim_cards")))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    assert(dataFiles === 1)
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().sorted.toSeq === before)
  }

  test("appendExactlyOnce: a replayed batch id is a committed no-op") {
    val lake = new Lakehouse(spark, tmpDir("lake-eo"))
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    // foreachBatch retry: same batch id, same (or partially different)
    // data — must not double-append
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    assert(lake.read("dim_cards").count() === 1)
    lake.appendExactlyOnce("dim_cards", dimDf("c2" -> "a2"), batchId = 1L)
    assert(lake.read("dim_cards").count() === 2)
  }

  test("compact with sort columns clusters rows within the rewritten file") {
    val lake = new Lakehouse(spark, tmpDir("lake-sort"))
    lake.append("dim_cards", dimDf("c3" -> "a3", "c1" -> "a1"))
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    lake.compact("dim_cards", numFiles = 1, sortCols = Seq("card_num"))
    // single sorted file: reading it back preserves the clustered order
    val rows = spark.read
      .schema(graft.model.Schemas.dimCards)
      .parquet(lake.dataPath("dim_cards"))
      .select("card_num").as[String].collect().toSeq
    assert(rows === Seq("c1", "c2", "c3"))
  }

  test("compact preserves the fact table's day partitioning") {
    import org.apache.spark.sql.functions.col
    val lake = new Lakehouse(spark, tmpDir("lake-fact-compact"))
    val df = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row("t1", ts("2020-05-01 10:00:00"), "c",
          "Оплата", dec("10"), "Успешно", "T1"),
        org.apache.spark.sql.Row("t2", ts("2020-05-02 10:00:00"), "c",
          "Оплата", dec("20"), "Успешно", "T1")),
      graft.model.Schemas.factTransactions)
    lake.appendPartitionedByDay("fact_transactions", df, "trans_date")
    lake.compact("fact_transactions", numFiles = 1)
    val out = lake.readWithPartitionColumns("fact_transactions")
    assert(out.filter(col("trans_dt_day").isNull).count() === 0)
    assert(out.select("trans_dt_day").distinct().count() === 2)
  }

  test("exactly-once batch detection survives compaction's GC") {
    val lake = new Lakehouse(spark, tmpDir("lake-eo-compact"))
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    lake.compact("dim_cards", numFiles = 1) // GCs the delta dir + marker
    // the stream replays batch 0 after a restart: must still be a no-op
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    assert(lake.read("dim_cards").count() === 1)
    // and the tombstone survives a SECOND compaction too
    lake.compact("dim_cards", numFiles = 1)
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    assert(lake.read("dim_cards").count() === 1)
  }

  test("time travel: readAt sees the table as of an earlier commit") {
    val lake = new Lakehouse(spark, tmpDir("lake-tt"))
    lake.append("dim_cards", dimDf("c1" -> "a1")) // v1 delta
    lake.append("dim_cards", dimDf("c2" -> "a2")) // v2 delta
    lake.append("dim_cards", dimDf("c3" -> "a3")) // v3 delta
    assert(lake.versions("dim_cards") ===
      Seq(1L -> false, 2L -> false, 3L -> false))
    assert(lake.readAt("dim_cards", 2L).select("card_num").as[String]
      .collect().sorted.toSeq === Seq("c1", "c2"))
    assert(lake.readAt("dim_cards", 3L).count() === 3)
    // a full commit resets the chain (and GCs what's before it)
    lake.compact("dim_cards", numFiles = 1)
    assert(lake.versions("dim_cards") === Seq(4L -> true))
  }

  test("retention: time travel survives compaction across generations") {
    val lake = new Lakehouse(spark, tmpDir("lake-retain"), retainSnapshots = 1)
    lake.overwrite("dim_cards", dimDf("c1" -> "a1"))        // v1 full
    lake.append("dim_cards", dimDf("c2" -> "a2"))           // v2 delta
    lake.compact("dim_cards", numFiles = 1)                 // v3 full
    // the superseded generation (full + its delta) is retained whole
    assert(lake.versions("dim_cards") ===
      Seq(1L -> true, 2L -> false, 3L -> true))
    assert(lake.readAt("dim_cards", 1L).select("card_num").as[String]
      .collect().toSeq === Seq("c1"))
    assert(lake.readAt("dim_cards", 2L).select("card_num").as[String]
      .collect().sorted.toSeq === Seq("c1", "c2"))
    assert(lake.read("dim_cards").count() === 2)
    lake.append("dim_cards", dimDf("c3" -> "a3"))           // v4 delta
    lake.compact("dim_cards", numFiles = 1)                 // v5 full
    // one generation of history: v1's generation ages out, v3's stays
    assert(lake.versions("dim_cards") ===
      Seq(3L -> true, 4L -> false, 5L -> true))
    assert(lake.readAt("dim_cards", 4L).count() === 3)
    // older than the retention window throws, never silently mis-resolves
    intercept[IllegalArgumentException](lake.readAt("dim_cards", 2L))
  }

  test("retention keeps the pre-versioning delta chain as a snapshot base") {
    val lake = new Lakehouse(spark, tmpDir("lake-retain-base"),
      retainSnapshots = 1)
    lake.append("dim_cards", dimDf("c1" -> "a1"))           // v1 delta
    lake.append("dim_cards", dimDf("c2" -> "a2"))           // v2 delta
    lake.overwrite("dim_cards", dimDf("c9" -> "a9"))        // v3 full
    // no superseded full existed — the delta chain IS the prior snapshot
    assert(lake.readAt("dim_cards", 2L).select("card_num").as[String]
      .collect().sorted.toSeq === Seq("c1", "c2"))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq === Seq("c9"))
  }

  test("snapshot write may read the table it replaces") {
    val lake = new Lakehouse(spark, tmpDir("lake-selfread"))
    lake.overwrite("dim_cards", dimDf("c1" -> "a1"))
    val merged = lake.read("dim_cards")
      .unionByName(dimDf("c2" -> "a2"))
    lake.overwrite("dim_cards", merged)
    assert(lake.read("dim_cards").count() == 2)
  }

  test("zone maps: readBetween prunes whole delta files, stays exact") {
    val lake = new Lakehouse(spark, tmpDir("lake-zonemap"))
    // two appends with disjoint key ranges → two versions, stats on each
    lake.append("dim_cards", dimDf("a1" -> "x", "a2" -> "x"),
      statsCols = Seq("card_num"))
    lake.append("dim_cards", dimDf("m1" -> "x", "m2" -> "x"),
      statsCols = Seq("card_num"))
    val narrow = lake.readBetween("dim_cards", "card_num", "a0", "a9")
    assert(narrow.select("card_num").as[String].collect().sorted.toSeq ===
      Seq("a1", "a2"))
    // only the first version's files are planned — the manifest excluded v2
    assert(narrow.inputFiles.nonEmpty &&
      narrow.inputFiles.forall(_.contains("/_v1/")), narrow.inputFiles.toSeq)
    // a range matching nothing reads nothing
    assert(lake.readBetween("dim_cards", "card_num", "z1", "z9").count() === 0)
  }

  test("zone maps: sorted compaction yields disjoint file ranges") {
    val lake = new Lakehouse(spark, tmpDir("lake-zonemap-compact"))
    val cards = (1 to 96).map(i => f"c$i%03d" -> "a")
    lake.append("dim_cards", dimDf(scala.util.Random.shuffle(cards): _*))
    lake.compact("dim_cards", numFiles = 4, sortCols = Seq("card_num"))
    // a narrow slice of the key space must hit a strict subset of files
    val slice = lake.readBetween("dim_cards", "card_num", "c010", "c015")
    assert(slice.count() === 6)
    assert(slice.inputFiles.length < 4, slice.inputFiles.toSeq)
    // and the pruned read agrees with the unpruned filter
    val want = lake.read("dim_cards")
      .filter($"card_num" >= "c010" && $"card_num" <= "c015")
    assert(slice.select("card_num").as[String].collect().sorted.toSeq ===
      want.select("card_num").as[String].collect().sorted.toSeq)
  }

  test("z-order compaction prunes on BOTH clustered columns") {
    val lake = new Lakehouse(spark, tmpDir("lake-zorder"))
    val base = ts("2020-05-01 00:00:00").getTime
    // independent 32×32 grid over the two timestamps — the adversarial
    // case for a linear sort (clustering one column randomizes the other)
    val rows = for { i <- 0 until 32; j <- 0 until 32 } yield
      (f"c$i%02d-$j%02d", "a",
        new java.sql.Timestamp(base + i * 3600L * 1000),
        Some(new java.sql.Timestamp(base + j * 3600L * 1000)))
    val df = spark.createDataFrame(
      rows.toDF("card_num", "account_num", "create_dt", "update_dt").rdd,
      graft.model.Schemas.dimCards)
    lake.append("dim_cards", df)
    lake.compactZOrder("dim_cards", numFiles = 16,
      zCols = Seq("create_dt", "update_dt"), bits = 4)

    def slice(c: String) = lake.readBetween("dim_cards", c,
      ts("2020-05-01 00:00:00"), ts("2020-05-01 03:30:00"))
    // a 4-hour slice on EITHER column: exact rows, subset of the 16 files
    Seq("create_dt", "update_dt").foreach { c =>
      val got = slice(c)
      assert(got.count() === 4 * 32, c)
      assert(got.inputFiles.length <= 8,
        s"$c planned ${got.inputFiles.length} files")
    }
  }

  test("z-order key normalizes DATE columns and orders by rank") {
    import org.apache.spark.sql.functions.col
    val rows = (0 until 64).map(i =>
      (s"a$i", java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i * 7)), "c", ts("2020-05-01 00:00:00"),
        None: Option[java.sql.Timestamp]))
    val df = spark.createDataFrame(
      rows.toDF("account_num", "valid_to", "client", "create_dt",
        "update_dt").rdd, graft.model.Schemas.dimAccounts)
    val keyed = df.withColumn("z", ZOrder.zkey(df, Seq("valid_to"), bits = 2))
      .select("valid_to", "z").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1))).sortBy(_._1)
    assert(keyed.map(_._2).distinct.toSeq === Seq(0L, 1L, 2L, 3L))
    // bucket ids are monotone in the date rank
    assert(keyed.map(_._2).toSeq === keyed.map(_._2).sorted.toSeq)
  }

  test("changesBetween feeds exactly the delta rows in range") {
    val lake = new Lakehouse(spark, tmpDir("lake-cdc"))
    lake.append("dim_cards", dimDf("c1" -> "a"))   // v1
    lake.append("dim_cards", dimDf("c2" -> "a"))   // v2
    lake.append("dim_cards", dimDf("c3" -> "a"))   // v3
    assert(lake.changesBetween("dim_cards", 1L, 3L)
      .select("card_num").as[String].collect().sorted.toSeq ===
      Seq("c2", "c3"))
    // empty range is an empty feed, not an error
    assert(lake.changesBetween("dim_cards", 3L, 3L).count() === 0)
    // a consumer paging from before a GC'd version must fail loudly
    lake.compact("dim_cards", numFiles = 1) // v4 full, GCs v1-v3
    intercept[IllegalArgumentException](
      lake.changesBetween("dim_cards", 1L, 3L))
    // ... and across a snapshot rewrite there is no row-level feed
    lake.append("dim_cards", dimDf("c4" -> "a"))   // v5 delta
    intercept[IllegalArgumentException](
      lake.changesBetween("dim_cards", 3L, 5L))
    assert(lake.changesBetween("dim_cards", 4L, 5L)
      .select("card_num").as[String].collect().toSeq === Seq("c4"))
    // a toVersion past the newest commit is a caller error, and the
    // message must say so (not misdiagnose it as GC)
    val beyond = intercept[IllegalArgumentException](
      lake.changesBetween("dim_cards", 4L, 99L))
    assert(beyond.getMessage.contains("exceeds latest version"))
  }

  test("changesBetween skips crash-debris versions instead of failing forever") {
    val lake = new Lakehouse(spark, tmpDir("lake-cdc-debris"))
    lake.append("dim_cards", dimDf("c1" -> "a"))   // v1
    // v2 crashes before its commit marker: the dir exists, uncommitted
    intercept[RuntimeException] {
      lake.append("dim_cards", dimDf("cX" -> "a"),
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    lake.append("dim_cards", dimDf("c3" -> "a"))   // v3
    // the debris contributed no rows — the feed is complete without it
    assert(lake.changesBetween("dim_cards", 1L, 3L)
      .select("card_num").as[String].collect().toSeq === Seq("c3"))
  }

  test("readBetween without stats falls back to a full correct read") {
    val lake = new Lakehouse(spark, tmpDir("lake-zonemap-nostats"))
    lake.append("dim_cards", dimDf("c1" -> "a1", "d1" -> "a2")) // no statsCols
    assert(lake.readBetween("dim_cards", "card_num", "c0", "c9")
      .select("card_num").as[String].collect().toSeq === Seq("c1"))
  }

  test("concurrent appends to ONE table: every commit survives") {
    // the round-3 verdict's top item: version-by-listing let two racing
    // writers claim the same _v<N> and one commit vanish. The CAS claim
    // protocol must land N racing appends as N distinct committed
    // versions — this probe fires them from driver threads (the Etl.scala
    // pool shape) and asserts nothing was lost or doubled.
    val lake = new Lakehouse(spark, tmpDir("lake-concurrent"))
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val latch = new java.util.concurrent.CountDownLatch(n)
      val futures = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            // maximize overlap: every thread reaches the gate before any
            // starts writing
            latch.countDown(); latch.await()
            lake.append("dim_cards", dimDf(s"c$i" -> s"a$i"))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val vs = lake.versions("dim_cards")
    assert(vs.size == 8 && vs.map(_._1).distinct.size == 8,
      s"expected 8 distinct committed versions, got $vs")
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == (1 to n).map(i => s"c$i").toSet)
  }

  test("delete removes matching rows, keeps snapshot reachable, rewrites stats") {
    val lake = new Lakehouse(spark, tmpDir("lake-delete"), retainSnapshots = 1)
    import org.apache.spark.sql.functions._
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))
    lake.append("dim_cards", dimDf("c3" -> "a3"))
    val preDelete = lake.versions("dim_cards").map(_._1).max
    lake.delete("dim_cards", col("card_num") === "c2",
      statsCols = Seq("card_num"))
    // live read serves survivors only
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == Set("c1", "c3"))
    // the pre-delete snapshot stays reachable for audit (retention)
    assert(lake.readAt("dim_cards", preDelete).select("card_num").as[String]
      .collect().toSet == Set("c1", "c2", "c3"))
    // zone maps were rewritten with the surviving rows: a range read on
    // the deleted key's band is exact
    assert(lake.readBetween("dim_cards", "card_num", "c2", "c2").count() == 0)
    assert(lake.readBetween("dim_cards", "card_num", "c1", "c3")
      .select("card_num").as[String].collect().toSet == Set("c1", "c3"))
  }

  test("delete with a null-valued predicate keeps the null rows (SQL contract)") {
    val lake = new Lakehouse(spark, tmpDir("lake-delete-null"))
    import org.apache.spark.sql.functions._
    val withNull = spark.createDataFrame(
      Seq(("c1", "a1"), ("c2", null.asInstanceOf[String]))
        .toDF("card_num", "account_num")
        .withColumn("create_dt", lit(ts("2020-05-01 00:00:00")))
        .withColumn("update_dt", lit(null).cast("timestamp")).rdd,
      graft.model.Schemas.dimCards)
    lake.append("dim_cards", withNull)
    // predicate is NULL for c2 (null account_num): NULL is not TRUE, so
    // c2 must survive — DELETE only removes rows where the predicate IS TRUE
    lake.delete("dim_cards", col("account_num") === "a1")
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c2"))
  }

  test("delete preserves the fact table's day partitioning") {
    val lake = new Lakehouse(spark, tmpDir("lake-delete-fact"))
    import org.apache.spark.sql.functions._
    val rows = Seq(
      ("t1", ts("2020-05-01 10:00:00")), ("t2", ts("2020-05-01 11:00:00")),
      ("t3", ts("2020-05-02 10:00:00")))
      .toDF("trans_id", "trans_date")
      .withColumn("card_num", lit("c"))
      .withColumn("oper_type", lit("o"))
      .withColumn("amt", lit("1.00").cast("decimal(18,2)"))
      .withColumn("oper_result", lit("ok"))
      .withColumn("terminal", lit("t"))
    lake.appendPartitionedByDay("fact_transactions",
      spark.createDataFrame(rows.rdd, graft.model.Schemas.factTransactions),
      "trans_date")
    lake.delete("fact_transactions", col("trans_id") === "t2")
    val left = lake.readWithPartitionColumns("fact_transactions")
    // the partition column survived the rewrite as directory structure
    // (an unpartitioned rewrite would read it back NULL everywhere)
    assert(left.select("trans_dt_day").as[java.sql.Date].collect().toSet ==
      Set(d("2020-05-01"), d("2020-05-02")))
    assert(left.select("trans_id").as[String].collect().toSet ==
      Set("t1", "t3"))
  }

  test("gc grace: a reader holding pre-compact paths finishes; vacuum reclaims") {
    // the reader-vs-maintenance race (round-3 verdict item 8): a reader
    // that resolved dataPaths just before a concurrent compact must not
    // have its files deleted out from under it. With gcGraceMs > 0 the
    // compact defers deletion; vacuum() reclaims once the grace passes.
    val lake = new Lakehouse(spark, tmpDir("lake-grace"),
      gcGraceMs = 3600L * 1000)
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    // reader resolves the live chain BEFORE the compact
    val preCompactPaths = lake.dataPaths("dim_cards")
    lake.compact("dim_cards", numFiles = 1)
    // the shadowed delta dirs are still on disk (inside grace) — the
    // reader's scan over its resolved paths still sees every row
    val late = preCompactPaths
      .map(p => spark.read.schema(graft.model.Schemas.dimCards)
        .option("basePath", p).parquet(p))
      .reduce(_ unionByName _)
    assert(late.select("card_num").as[String].collect().toSet ==
      Set("c1", "c2"))
    // vacuum within grace: a no-op
    lake.vacuum("dim_cards")
    assert(late.select("card_num").as[String].collect().toSet ==
      Set("c1", "c2"))
    // a zero-grace handle on the same root models grace expiry (mtimes
    // are in the past relative to a 0 horizon); vacuum now reclaims,
    // leaving exactly the live chain
    val expired = new Lakehouse(spark, lake.root, gcGraceMs = 0L)
    expired.vacuum("dim_cards")
    val fs = new Path(lake.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(lake.tablePath("dim_cards")))
      .map(_.getPath.getName).filter(_.startsWith("_v")).toSeq
    assert(dirs == Seq("_v3"), s"vacuum should leave only the full commit: $dirs")
    // and the table still reads correctly
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == Set("c1", "c2"))
  }

  test("vacuum honors pre-full retention: the audit snapshot survives") {
    // the q61 shape: retention on, a delta-only chain snapshotted by the
    // delete's FULL commit. The full commit's GC keeps the pre-full
    // delta chain as the previous snapshot (keepPreVersioningBase);
    // vacuum must apply the SAME rule — deleting those deltas would
    // destroy the readAt audit snapshot retention promised
    val lake = new Lakehouse(spark, tmpDir("lake-vacuum-retain"),
      retainSnapshots = 1)
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    val preDelete = lake.versions("dim_cards").map(_._1).max
    lake.delete("dim_cards", org.apache.spark.sql.functions
      .col("card_num") === "c2")
    lake.vacuum("dim_cards")
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c1"))
    // the pre-delete snapshot is still reachable AFTER the vacuum
    assert(lake.readAt("dim_cards", preDelete).select("card_num").as[String]
      .collect().toSet == Set("c1", "c2"))
  }

  test("append racing delete: both effects survive") {
    val lake = new Lakehouse(spark, tmpDir("lake-race-append"))
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2")) // v1
    // the append claims v2 and writes its files, then — INSIDE its
    // pre-commit window — a delete runs to completion (FULL commit whose
    // snapshot cannot see the uncommitted v2). The old protocol silently
    // discarded the append (last-FULL-wins) and even GC'd its dir as
    // crash debris; now the full commit leaves in-flight dirs alone and
    // the append, finding a full above itself at commit time, renames
    // its delta above it (ensureAboveFulls) — BOTH writers' effects land
    lake.append("dim_cards", dimDf("c3" -> "a3"),
      beforeCommit = () =>
        lake.delete("dim_cards", org.apache.spark.sql.functions
          .col("card_num") === "c2"))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == Set("c1", "c3"))
    // on disk: the delete's full commit with the rebased delta above it
    val vs = lake.versions("dim_cards")
    assert(vs.exists(_._2) && !vs.last._2,
      s"expected a full commit with the rebased delta above it: $vs")
  }

  test("a delta committed after the maintenance read basis is rebased, not lost") {
    val lake = new Lakehouse(spark, tmpDir("lake-race-basis"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))  // v1 — the read basis
    val snapshot = lake.read("dim_cards")          // resolves roots at v1
    lake.append("dim_cards", dimDf("c2" -> "a2"))  // v2 — after the read
    // a rewrite whose snapshot derives from v1 only: the late v2 delta
    // committed above the read basis and must be rebased above the new
    // full (rebaseLateDeltas), its rows kept
    lake.overwritePartitioned("dim_cards", snapshot, Nil,
      readBasis = Some(Lakehouse.ReadBasis(1L, Set(1L))))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == Set("c1", "c2"))
  }

  test("two racing maintenance rewrites fail loudly instead of losing one") {
    val lake = new Lakehouse(spark, tmpDir("lake-race-full"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))  // v1
    lake.compact("dim_cards", numFiles = 1)        // v2 full (racing job)
    // a second rewrite whose read basis predates the racing full: its
    // snapshot would silently discard the compact's rewrite — the
    // conflict is detected after commit and fails loudly (Delta's
    // concurrent-OPTIMIZE conflict; maintenance jobs must serialize)
    val boom = intercept[IllegalStateException] {
      lake.overwritePartitioned("dim_cards", dimDf("c9" -> "a9"), Nil,
        readBasis = Some(Lakehouse.ReadBasis(1L, Set(1L))))
    }
    assert(boom.getMessage.contains("raced concurrent full commit"))
  }

  test("vacuum reclaims stale V2-write staging debris, keeps active") {
    val lake = new Lakehouse(spark, tmpDir("lake-staging-gc"),
      gcGraceMs = 60_000L)
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    val dest = new org.apache.hadoop.fs.Path(lake.tablePath("dim_cards"))
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(dest, "_staging/dead-query/0")
    fs.mkdirs(stale)
    fs.create(new org.apache.hadoop.fs.Path(stale, "part-0-0.parquet"),
      true).close()
    // age the whole subtree past the grace
    def age(p: org.apache.hadoop.fs.Path): Unit = {
      fs.setTimes(p, System.currentTimeMillis() - 120_000L, -1)
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).foreach(c => age(c.getPath))
    }
    age(new org.apache.hadoop.fs.Path(dest, "_staging/dead-query"))
    val active = new org.apache.hadoop.fs.Path(dest, "_staging/live-query/3")
    fs.mkdirs(active) // fresh mtime — an in-flight epoch
    lake.vacuum("dim_cards")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      dest, "_staging/dead-query")), "stale staging must be reclaimed")
    assert(fs.exists(active), "active staging must survive the grace")
    assert(lake.read("dim_cards").count() == 1L)
  }

  test("vacuum preserves a streaming sink's exactly-once tombstones") {
    // round-4 verdict item 7: the batch-id ledger (delta markers +
    // SeenPrefix carries in the full commit) must survive vacuum, or a
    // post-vacuum replay of an old micro-batch would double its rows
    val lake = new Lakehouse(spark, tmpDir("lake-vacuum-eo"))
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    lake.appendExactlyOnce("dim_cards", dimDf("c2" -> "a2"), batchId = 1L)
    lake.compact("dim_cards", numFiles = 1) // seen-carry into the full
    lake.appendExactlyOnce("dim_cards", dimDf("c3" -> "a3"), batchId = 2L)
    lake.vacuum("dim_cards")
    // restart storm: every historical batch replays — all must no-op
    lake.appendExactlyOnce("dim_cards", dimDf("c1" -> "a1"), batchId = 0L)
    lake.appendExactlyOnce("dim_cards", dimDf("c2" -> "a2"), batchId = 1L)
    lake.appendExactlyOnce("dim_cards", dimDf("c3" -> "a3"), batchId = 2L)
    assert(lake.read("dim_cards").count() == 3,
      "a replayed batch landed twice after vacuum")
  }

  test("vacuum drops stale claim files on an append-only table") {
    // ADVICE round-4: an append-only table (the streaming-sink shape)
    // accumulated one _GRAFT_CLAIM_ file per append forever — vacuum now
    // drops claims below the max on-disk version even with no full commit
    val lake = new Lakehouse(spark, tmpDir("lake-claims"))
    (1 to 5).foreach(i => lake.append("dim_cards", dimDf(s"c$i" -> "a")))
    val fs = new Path(lake.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def claims = fs.listStatus(new Path(lake.tablePath("dim_cards")))
      .map(_.getPath.getName).count(_.startsWith("_GRAFT_CLAIM_"))
    assert(claims == 5)
    lake.vacuum("dim_cards")
    assert(claims == 1, "only the max claim keeps allocation monotonic")
    assert(lake.read("dim_cards").count() == 5)
    // allocation stays monotonic off the max on-disk dir
    lake.append("dim_cards", dimDf("c6" -> "a"))
    assert(lake.versions("dim_cards").map(_._1).max == 6L)
  }

  test("merge updates matched rows, inserts unmatched, keeps the rest") {
    val lake = new Lakehouse(spark, tmpDir("lake-merge"))
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))
    lake.merge("dim_cards", dimDf("c2" -> "a2x", "c3" -> "a3"),
      keyCols = Seq("card_num"))
    val got = lake.read("dim_cards").select("card_num", "account_num")
      .as[(String, String)].collect().toMap
    assert(got == Map("c1" -> "a1", "c2" -> "a2x", "c3" -> "a3"))
    // the merge is ONE full commit
    assert(lake.versions("dim_cards").last._2)
  }

  test("merge rejects a key-duplicated source (undefined update order)") {
    val lake = new Lakehouse(spark, tmpDir("lake-merge-dup"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    val boom = intercept[IllegalArgumentException] {
      lake.merge("dim_cards", dimDf("c1" -> "x", "c1" -> "y"),
        keyCols = Seq("card_num"))
    }
    assert(boom.getMessage.contains("duplicate"))
    // nothing committed — the table is unchanged
    assert(lake.read("dim_cards").select("account_num").as[String]
      .collect().toSeq == Seq("a1"))
  }

  test("merge: NULL source keys never match — they insert (SQL join semantics)") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-merge-null"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    val src = spark.createDataFrame(
      Seq((null.asInstanceOf[String], "aN"))
        .toDF("card_num", "account_num")
        .withColumn("create_dt", lit(ts("2020-05-01 00:00:00")))
        .withColumn("update_dt", lit(null).cast("timestamp")).rdd,
      graft.model.Schemas.dimCards)
    lake.merge("dim_cards", src, keyCols = Seq("card_num"))
    assert(lake.read("dim_cards").select("account_num").as[String]
      .collect().toSet == Set("a1", "aN"))
  }

  test("merge racing an append: both effects survive (same rebase protocol)") {
    val lake = new Lakehouse(spark, tmpDir("lake-merge-race"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))  // v1
    // the append claims its version and writes; inside its pre-commit
    // window the merge runs end-to-end (FULL commit that cannot see the
    // uncommitted delta) — the appender self-rebases above it
    lake.append("dim_cards", dimDf("c9" -> "a9"),
      beforeCommit = () => lake.merge("dim_cards",
        dimDf("c1" -> "a1x", "c2" -> "a2"), keyCols = Seq("card_num")))
    assert(lake.read("dim_cards").select("card_num", "account_num")
      .as[(String, String)].collect().toMap ==
      Map("c1" -> "a1x", "c2" -> "a2", "c9" -> "a9"))
  }

  test("update racing an append: both effects survive (same rebase protocol)") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-upd-race"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    def df(rows: (Long, String)*) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    }
    lake.append("t", df(1L -> "a", 2L -> "b"))
    // the append claims its version and writes; inside its pre-commit
    // window the UPDATE runs end-to-end (a FULL commit that cannot see
    // the uncommitted delta) — the appender self-rebases above it, so
    // neither the update nor the racing append's rows are lost
    lake.append("t", df(9L -> "z"), beforeCommit = () =>
      lake.update("t", schema, col("k") === 1L, Seq("v" -> lit("a2"))))
    assert(lake.read("t", schema).as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b", 9L -> "z"))
  }

  test("changeFeed: inserts from deltas, recorded deletes, empty compact feed") {
    import org.apache.spark.sql.functions._
    // grace keeps every version dir on disk — a feed consumer IS a
    // reader of old versions
    val lake = new Lakehouse(spark, tmpDir("lake-feed"),
      gcGraceMs = 3600L * 1000)
    lake.append("dim_cards", dimDf("c1" -> "a1"))            // v1 delta
    lake.append("dim_cards", dimDf("c2" -> "a2"))            // v2 delta
    lake.delete("dim_cards", col("card_num") === "c1", cdf = true) // v3 full
    lake.compact("dim_cards", numFiles = 1)                  // v4 full
    val feed = lake.changeFeed("dim_cards", 0L, 4L)
      .select("card_num", "_change_type", "_commit_version")
      .as[(String, String, Long)].collect().toSet
    assert(feed == Set(("c1", "insert", 1L), ("c2", "insert", 2L),
      ("c1", "delete", 3L)))
    // paging from mid-stream yields exactly the suffix
    assert(lake.changeFeed("dim_cards", 2L, 4L)
      .select("card_num").as[String].collect().toSeq == Seq("c1"))
  }

  test("changeFeed fails loudly across an unrecorded FULL commit") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-feed-blind"),
      gcGraceMs = 3600L * 1000)
    lake.append("dim_cards", dimDf("c1" -> "a1"))            // v1
    lake.delete("dim_cards", col("card_num") === "c1")       // v2, cdf=false
    val boom = intercept[IllegalArgumentException](
      lake.changeFeed("dim_cards", 0L, 2L))
    assert(boom.getMessage.contains("without recorded change data"))
    // ...but a range that stops before it still serves
    assert(lake.changeFeed("dim_cards", 0L, 1L)
      .select("card_num").as[String].collect().toSeq == Seq("c1"))
  }

  test("merge with cdf records preimage, postimage and insert rows") {
    val lake = new Lakehouse(spark, tmpDir("lake-merge-cdf"),
      gcGraceMs = 3600L * 1000)
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2")) // v1
    lake.merge("dim_cards", dimDf("c2" -> "a2x", "c3" -> "a3"),
      keyCols = Seq("card_num"), cdf = true)                    // v2 full
    val feed = lake.changeFeed("dim_cards", 1L, 2L)
      .select("card_num", "account_num", "_change_type")
      .as[(String, String, String)].collect().toSet
    assert(feed == Set(("c2", "a2", "update_preimage"),
      ("c2", "a2x", "update_postimage"), ("c3", "a3", "insert")))
  }

  test("restore rolls the live table back as a new audit-visible commit") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-restore"),
      retainSnapshots = 1)
    lake.append("dim_cards", dimDf("c1" -> "a1"))            // v1
    lake.append("dim_cards", dimDf("c2" -> "a2"))            // v2
    lake.delete("dim_cards", col("card_num") === "c2")       // v3 full (bad)
    assert(lake.read("dim_cards").count() == 1)
    lake.restore("dim_cards", 2L)                            // v4 full
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == Set("c1", "c2"))
    // history moved FORWARD: the bad delete is still a committed version
    assert(lake.versions("dim_cards").count(_._2) == 2)
    // a restore is itself restorable (roll forward to the deleted state)
    lake.restore("dim_cards", 3L)
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c1"))
    // restoring from outside the retained window fails loudly
    intercept[IllegalArgumentException](lake.restore("dim_cards", 1L))
  }

  test("restore preserves the fact table's day partitioning") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-restore-fact"),
      retainSnapshots = 1)
    val rows = Seq(
      ("t1", ts("2020-05-01 10:00:00")), ("t2", ts("2020-05-02 10:00:00")))
      .toDF("trans_id", "trans_date")
      .withColumn("card_num", lit("c"))
      .withColumn("oper_type", lit("o"))
      .withColumn("amt", lit("1.00").cast("decimal(18,2)"))
      .withColumn("oper_result", lit("ok"))
      .withColumn("terminal", lit("t"))
    lake.appendPartitionedByDay("fact_transactions",
      spark.createDataFrame(rows.rdd, graft.model.Schemas.factTransactions),
      "trans_date")
    lake.delete("fact_transactions", col("trans_id") === "t2")
    lake.restore("fact_transactions", 1L)
    val out = lake.readWithPartitionColumns("fact_transactions")
    assert(out.select("trans_id").as[String].collect().toSet ==
      Set("t1", "t2"))
    assert(out.select("trans_dt_day").as[java.sql.Date].collect().toSet ==
      Set(d("2020-05-01"), d("2020-05-02")))
  }

  test("history carries commit times; readAsOf resolves by timestamp") {
    val lake = new Lakehouse(spark, tmpDir("lake-asof"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    val between = System.currentTimeMillis()
    Thread.sleep(20) // local-fs mtime granularity
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    val h = lake.history("dim_cards")
    assert(h.map(t => (t._1, t._2)) == Seq(1L -> false, 2L -> false))
    assert(h.map(_._3).sorted == h.map(_._3), "commit times monotone here")
    // a timestamp between the two commits serves exactly the first
    assert(lake.readAsOf("dim_cards", between).select("card_num")
      .as[String].collect().toSeq == Seq("c1"))
    assert(lake.readAsOf("dim_cards", System.currentTimeMillis())
      .count() == 2)
    // before the first commit: loud, never silently empty
    intercept[IllegalArgumentException](
      lake.readAsOf("dim_cards", h.map(_._3).min - 1))
  }

  test("equality delete masks earlier rows; a later re-insert survives") {
    val lake = new Lakehouse(spark, tmpDir("lake-eqdel"))
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))   // v1
    lake.deleteByKeys("dim_cards",
      Seq("c2", "c9").toDF("card_num"))                           // v2
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c1"))
    // the SAME key re-inserted after the tombstone must serve (sequence
    // rule) — a version-blind mask would erase it forever
    lake.append("dim_cards", dimDf("c2" -> "a2x"))                // v3
    assert(lake.read("dim_cards").select("card_num", "account_num")
      .as[(String, String)].collect().toMap ==
      Map("c1" -> "a1", "c2" -> "a2x"))
    // zone-map range reads apply the same masks
    lake.append("dim_cards", dimDf("c3" -> "a3"),
      statsCols = Seq("card_num"))
    lake.deleteByKeys("dim_cards", Seq("c3").toDF("card_num"))
    assert(lake.readBetween("dim_cards", "card_num", "c0", "c9")
      .select("card_num").as[String].collect().sorted.toSeq ==
      Seq("c1", "c2"))
    // compaction materializes: same content, tombstones retired
    lake.compact("dim_cards", numFiles = 1)
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().sorted.toSeq == Seq("c1", "c2"))
    val fs = new Path(lake.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(lake.dataPath("dim_cards"), "_GRAFT_EQDEL")))
    // post-compact: a replayed read is mask-free (single full commit)
    assert(lake.versions("dim_cards").count(_._2) == 1)
  }

  test("eq-del masking is a filter, not a join — same probe as the V2 " +
    "scan, no broadcast") {
    val lake = new Lakehouse(spark, tmpDir("lake-eqdel-plan"))
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))
    lake.deleteByKeys("dim_cards", Seq("c2", "c9").toDF("card_num"))
    val df = lake.read("dim_cards")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.toLowerCase.contains("eqdelsurvives"), plan)
    assert(df.select("card_num").as[String].collect().toSeq == Seq("c1"))
  }

  test("a tombstone racing a compact rebases above it and still masks") {
    val lake = new Lakehouse(spark, tmpDir("lake-eqdel-race"))
    lake.append("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))   // v1
    // the tombstone claims its version and writes its keys; INSIDE its
    // pre-commit window a compact rewrites the table (FULL commit whose
    // snapshot cannot see the uncommitted tombstone). The tombstone
    // self-rebases above the full — and, sitting above it, masks the
    // snapshot's rows: both writers' effects compose
    lake.deleteByKeys("dim_cards", Seq("c2").toDF("card_num"),
      beforeCommit = () => lake.compact("dim_cards", numFiles = 1))
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSeq == Seq("c1"))
  }

  test("feeds: changesBetween refuses a tombstone delta, changeFeed types it") {
    val lake = new Lakehouse(spark, tmpDir("lake-eqdel-feed"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))                 // v1
    lake.deleteByKeys("dim_cards", Seq("c1").toDF("card_num"))    // v2
    val boom = intercept[IllegalArgumentException](
      lake.changesBetween("dim_cards", 0L, 2L))
    assert(boom.getMessage.contains("equality-delete"))
    val feed = lake.changeFeed("dim_cards", 0L, 2L)
      .select("card_num", "account_num", "_change_type", "_commit_version")
      .as[(String, Option[String], String, Long)].collect().toSet
    // the delete record carries the key, null elsewhere — the standard
    // delete-by-key CDC shape
    assert(feed == Set(("c1", Some("a1"), "insert", 1L),
      ("c1", None, "delete", 2L)))
  }

  test("vacuum never touches a delta-only chain or in-flight versions") {
    val lake = new Lakehouse(spark, tmpDir("lake-vacuum-safe"))
    lake.append("dim_cards", dimDf("c1" -> "a1"))
    lake.append("dim_cards", dimDf("c2" -> "a2"))
    lake.vacuum("dim_cards") // delta-only: everything is live
    assert(lake.read("dim_cards").count() == 2)
    // full commit, then an append ABOVE it, then crash debris above that:
    // vacuum must keep both (live chain / possible in-flight write)
    lake.overwrite("dim_cards", dimDf("c1" -> "a1", "c2" -> "a2"))
    lake.append("dim_cards", dimDf("c3" -> "a3"))
    intercept[RuntimeException] {
      lake.append("dim_cards", dimDf("cX" -> "aX"),
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    lake.vacuum("dim_cards")
    assert(lake.read("dim_cards").select("card_num").as[String]
      .collect().toSet == Set("c1", "c2", "c3"))
    assert(lake.versions("dim_cards").size == 2) // full + delta intact
  }

  private def scanNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size

  test("every live-chain read plans ONE file scan, whatever its roots") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-one-scan"))
    (1 to 6).foreach(i => lake.append("dim_cards", dimDf(s"c$i" -> s"a$i")))
    assert(lake.dataPaths("dim_cards").size == 6)
    assert(scanNodes(lake.read("dim_cards")) == 1)
    // a DV below some roots and not others: per-file masks, one scan
    lake.deleteRowsMoR("dim_cards", graft.model.Schemas.dimCards,
      col("card_num") === "c2")
    lake.append("dim_cards", dimDf("c2" -> "again"))
    val dv = lake.read("dim_cards")
    assert(scanNodes(dv) == 1)
    assert(scanNodes(lake.readMaskedWithPos("dim_cards",
      graft.model.Schemas.dimCards)) == 1)
    assert(dv.select("card_num", "account_num").as[(String, String)]
      .collect().toSet == ((1 to 6).filter(_ != 2)
        .map(i => s"c$i" -> s"a$i") :+ ("c2" -> "again")).toSet)
    // an eq-del tombstone likewise
    lake.deleteByKeys("dim_cards", Seq("c3").toDF("card_num"))
    val eq = lake.read("dim_cards")
    assert(scanNodes(eq) == 1)
    assert(eq.count() == 5)

    // the day-partitioned fact: one root per day, a NULL-day row too
    val fact = graft.model.Schemas.factTransactions
    def facts(rows: (String, java.sql.Timestamp)*) = spark.createDataFrame(
      rows.toDF("trans_id", "trans_date")
        .withColumn("card_num", lit("c"))
        .withColumn("oper_type", lit("o"))
        .withColumn("amt", lit("1.00").cast("decimal(18,2)"))
        .withColumn("oper_result", lit("ok"))
        .withColumn("terminal", lit("t")).rdd, fact)
    lake.appendPartitionedByDay("fact_transactions", facts(
      "t1" -> ts("2020-05-01 10:00:00"), "t2" -> ts("2020-05-01 11:00:00")),
      "trans_date")
    lake.appendPartitionedByDay("fact_transactions", facts(
      "t3" -> ts("2020-05-02 10:00:00"), "tn" -> null), "trans_date")
    lake.appendPartitionedByDay("fact_transactions", facts(
      "t4" -> ts("2020-05-03 10:00:00")), "trans_date")
    val withDay = lake.readWithPartitionColumns("fact_transactions")
    assert(scanNodes(withDay) == 1)
    assert(withDay.select("trans_id", "trans_dt_day")
      .as[(String, Option[java.sql.Date])].collect().toSet == Set(
        "t1" -> Some(d("2020-05-01")), "t2" -> Some(d("2020-05-01")),
        "t3" -> Some(d("2020-05-02")), "tn" -> None,
        "t4" -> Some(d("2020-05-03"))))
    // partition pruning still works off the explicit spec
    val pruned = withDay.filter(col("trans_dt_day") >= lit(d("2020-05-02")))
    assert(pruned.select("trans_id").as[String].collect().toSet ==
      Set("t3", "t4"))
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(trans_dt_day"))
    assert(scanNodes(lake.read("fact_transactions")) == 1)
    lake.versions("fact_transactions").map(_._1).zip(Seq(2L, 4L, 5L))
      .foreach { case (v, n) =>
        val at = lake.readAt("fact_transactions", v)
        assert(scanNodes(at) == 1)
        assert(at.count() == n)
      }
    // a NULL-day dir makes the newest day unprovable from the layout
    assert(lake.maxPartitionDay("fact_transactions").isEmpty)
    // a MoR UPDATE's flat post-image root beside the day dirs: still one
    // scan, and a flat file reads the partition column as NULL
    lake.updateRowsMoR("fact_transactions", fact, col("trans_id") === "t1",
      Seq("oper_result" -> lit("upd")))
    assert(scanNodes(lake.read("fact_transactions")) == 1)
    lake.appendPartitionedByDay("fact_transactions", facts(
      "t5" -> ts("2020-05-04 10:00:00")), "trans_date")
    val mixed = lake.readWithPartitionColumns("fact_transactions")
    assert(scanNodes(mixed) == 1)
    assert(mixed.select("trans_id", "oper_result", "trans_dt_day")
      .as[(String, String, Option[java.sql.Date])].collect().toSet == Set(
        ("t1", "upd", None), ("t2", "ok", Some(d("2020-05-01"))),
        ("t3", "ok", Some(d("2020-05-02"))), ("tn", "ok", None),
        ("t4", "ok", Some(d("2020-05-03"))),
        ("t5", "ok", Some(d("2020-05-04")))))
  }

  test("one-scan reads serve the modelled rows at every version: " +
    "pre-versioning base, DV chain, eq-del tombstones, MoR update, " +
    "rebased delta") {
    import org.apache.spark.sql.functions._
    val lake = new Lakehouse(spark, tmpDir("lake-one-scan-model"))
    val schema = graft.model.Schemas.dimCards
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select("card_num", "account_num").as[(String, String)].collect()
        .toSeq.sorted
    var model = Seq.empty[(String, String)]
    val snaps = scala.collection.mutable.LinkedHashMap.empty[Long,
      Seq[(String, String)]]
    def step(body: => Unit)(next: Seq[(String, String)]): Unit = {
      body
      model = next.sorted
      snaps(lake.versions("dim_cards").last._1) = model
      assert(got(lake.read("dim_cards")) == model)
      assert(scanNodes(lake.read("dim_cards")) == 1)
      assert(got(lake.readMaskedWithPos("dim_cards", schema)) == model)
      // the zone-map range read goes through the same planner and masks
      assert(got(lake.readBetween("dim_cards", "card_num", "c1", "c2")) ==
        model.filter(r => r._1 >= "c1" && r._1 <= "c2"))
    }
    def rows(tag: String, ks: Int*) = ks.map(k => s"c$k" -> s"$tag$k")
    // pre-versioning base: plain files at the table root (version 0)
    dimDf(rows("b", 0 until 10: _*): _*).write.parquet(
      lake.tablePath("dim_cards"))
    model = rows("b", 0 until 10: _*).sorted
    assert(got(lake.read("dim_cards")) == model)
    step(lake.append("dim_cards", dimDf(rows("a", 10 until 20: _*): _*)))(
      model ++ rows("a", 10 until 20: _*))
    val byFour = Set(0, 4, 8, 12, 16).map(k => s"c$k")
    step(lake.deleteRowsMoR("dim_cards", schema,
      col("card_num").isin(byFour.toSeq: _*)))(
      model.filterNot(r => byFour(r._1)))
    step(lake.append("dim_cards", dimDf(rows("r", 0, 1, 2, 3): _*)))(
      model ++ rows("r", 0, 1, 2, 3))
    step(lake.deleteByKeys("dim_cards", Seq("c1", "c12", "c99")
      .toDF("card_num")))(model.filterNot(r => Set("c1", "c12")(r._1)))
    step(lake.append("dim_cards", dimDf("c1" -> "again")))(
      model :+ ("c1" -> "again"))
    step(lake.updateRowsMoR("dim_cards", schema, col("card_num") === "c2",
      Seq("account_num" -> lit("upd"))))(
      model.map(r => if (r._1 == "c2") r._1 -> "upd" else r))
    step(lake.deleteRowsMoR("dim_cards", schema,
      col("account_num") === "again"))(model.filterNot(_._2 == "again"))
    // time travel through the same planner, by version and by time
    snaps.foreach { case (v, rs) =>
      val at = lake.readAt("dim_cards", v)
      assert(scanNodes(at) == 1)
      assert(got(at) == rs, s"readAt $v")
    }
    lake.history("dim_cards").foreach { case (_, _, ms) =>
      val v = lake.history("dim_cards").filter(_._3 <= ms).map(_._1).max
      assert(got(lake.readAsOf("dim_cards", ms)) == snaps(v))
    }
    // a delta committing inside a compaction's window rebases above it
    val before = model
    lake.append("dim_cards", dimDf(rows("x", 50, 51): _*),
      beforeCommit = () => lake.compact("dim_cards", numFiles = 1))
    model = (before ++ rows("x", 50, 51)).sorted
    val vs = lake.versions("dim_cards")
    assert(vs.map(_._2) == Seq(true, false), vs)
    assert(got(lake.readAt("dim_cards", vs.head._1)) == before)
    assert(got(lake.read("dim_cards")) == model)
    assert(scanNodes(lake.read("dim_cards")) == 1)
  }
}
