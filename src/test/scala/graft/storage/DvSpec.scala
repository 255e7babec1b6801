package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Deletion vectors (merge-on-read positional deletes,
  * Lakehouse.deleteRowsMoR): a predicate delete lands as a data-less
  * delta naming (file, row-index) tombstones; every reader masks them,
  * compaction materializes them, and data appended after the delete is
  * never masked (the sequence rule).
  */
class DvSpec extends SparkSpec {

  private val schema = StructType.fromDDL("k BIGINT, v BIGINT")

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, tmpDir(s"dv-$tag"))

  private def rows(lo: Long, hi: Long) = {
    import spark.implicits._
    (lo until hi).map(i => (i, i * 10)).toDF("k", "v")
  }

  test("MoR delete masks rows without rewriting data files") {
    val lake = mkLake("mask")
    lake.append("t", rows(0, 100))
    val filesBefore = lake.dataPaths("t").flatMap(r =>
      new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(new Path(r)).map(_.getPath.getName))
      .filter(_.endsWith(".parquet")).toSet
    lake.deleteRowsMoR("t", schema, col("k") % 7 === 0)
    // visible rows exclude the predicate's matches
    val got = lake.read("t", schema).select("k").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 100L).filterNot(_ % 7 == 0))
    // and NOT ONE data file was rewritten
    val filesAfter = lake.dataPaths("t").flatMap(r =>
      new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(new Path(r)).map(_.getPath.getName))
      .filter(_.endsWith(".parquet")).toSet
    assert(filesAfter == filesBefore)
  }

  test("sequence rule: rows appended after the DV are never masked") {
    val lake = mkLake("seq")
    lake.append("t", rows(0, 50))
    lake.deleteRowsMoR("t", schema, col("k") < 10)
    // re-insert some of the very same keys AFTER the delete
    lake.append("t", rows(0, 5))
    val got = lake.read("t", schema).select("k").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == ((0L until 5L) ++ (10L until 50L)).sorted)
    // NULL-predicate rows survive (SQL DELETE contract)
    lake.deleteRowsMoR("t", schema,
      when(col("k") < 3, lit(null).cast("boolean"))
        .otherwise(col("k") === 11))
    val got2 = lake.read("t", schema).select("k").collect()
      .map(_.getLong(0)).sorted
    assert(got2.toSeq == ((0L until 5L) ++ (10L until 50L))
      .filterNot(_ == 11L).sorted)
  }

  test("the V2 batch scan serves DVs natively; agg pushdown declines") {
    val lake = mkLake("v2")
    lake.append("t", rows(0, 100), statsCols = Seq("k"))
    lake.deleteRowsMoR("t", schema, col("k") >= 90)
    val df = spark.read.format("graft.sources.LakehouseBatchProvider")
      .schema(schema).load(lake.tablePath("t"))
    assert(df.count() == 90L)
    assert(df.agg(max(col("k"))).head().getLong(0) == 89L)
    // round 9: min/max still must not come from the MANIFEST zone maps
    // (a masked row could be the extreme) — it now pushes down from
    // the DV commit's post-mask `_extremes` manifest instead, and the
    // answer is the masked one (89, not the pre-delete 99)
    val plan = df.agg(max(col("k"))).queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    // COUNT(*) alone stays a metadata answer even with DVs outstanding:
    // Σ(footer rows − sidecar-header deleted) = 90, no data read
    val cplan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(cplan.contains("PushedAggregation"), cplan)
    // the scan stays VECTORIZED under outstanding DVs — the mask is a
    // per-batch selection remap, not a fall-back to the row reader
    val scanPlan = df.filter(col("k") === 5)
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("ColumnarToRow"), scanPlan)
    // zone-map skipping still cuts files conservatively
    assert(df.filter(col("k") === 5).collect().map(_.getLong(1)).toSeq
      == Seq(50L))
  }

  test("compaction materializes the vectors and drops them") {
    val lake = mkLake("compact")
    lake.append("t", rows(0, 60))
    lake.deleteRowsMoR("t", schema, col("k") % 2 === 0)
    lake.compact("t", schema, numFiles = 2, sortCols = Seq("k"))
    val got = lake.read("t", schema).select("k").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 60L).filter(_ % 2 == 1))
    // the live chain carries no DV dirs any more
    val fs = new Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDirs = lake.dataPaths("t").filter(r =>
      fs.exists(new Path(r, "_GRAFT_DV")))
    assert(dvDirs.isEmpty)
    // and the V2 scan is back to metadata aggregates
    val df = spark.read.format("graft.sources.LakehouseBatchProvider")
      .schema(schema).load(lake.tablePath("t"))
    assert(df.count() == 30L)
  }

  test("MIN/MAX stays pushed after a MoR MERGE (post-mask extremes " +
    "from the merge commit too)") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("dv-merge-mm")
    spark.conf.set("spark.sql.catalog.graftdvm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftdvm.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdvm.d")
    // PARTITIONED BY (k): the INSERT and the merge's post-images then
    // carry zone maps on k — the coverage the pushdown needs (an
    // unpartitioned table's rows-only manifests decline it, correctly)
    spark.sql("""CREATE TABLE graftdvm.d.t (k BIGINT, v BIGINT)
      PARTITIONED BY (k)
      TBLPROPERTIES ('graft.deleteMode' = 'mor')""")
    spark.sql("INSERT INTO graftdvm.d.t SELECT id, id FROM range(0, 100)")
    // the merge DELETES the high extreme (k >= 90 matched-delete) and
    // UPDATES the low end's v — one MoR delta with a DV + post-images
    spark.range(0, 100).filter(col("id") >= 80)
      .selectExpr("id AS k", "id + 1000 AS v")
      .createOrReplaceTempView("dvm_src")
    spark.sql("""MERGE INTO graftdvm.d.t t USING dvm_src s ON t.k = s.k
      WHEN MATCHED AND s.k >= 90 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    val q = spark.sql("SELECT max(k) AS hi, min(k) AS lo FROM graftdvm.d.t")
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "MIN/MAX must stay pushed after a MoR MERGE:\n" +
        q.queryExecution.executedPlan.toString)
    // the answer is the MASKED one: 90-99 deleted; 80-89 rewritten as
    // post-images (their own files carry fresh stats)
    assert(q.head() == org.apache.spark.sql.Row(89L, 0L))
    assert(spark.sql("SELECT sum(v) FROM graftdvm.d.t").head().getLong(0)
      == (0L until 80L).sum + (80L until 90L).map(_ + 1000L).sum)
  }

  test("SQL DELETE routes through DVs under graft.deleteMode=mor") {
    val root = tmpDir("dv-sql")
    spark.conf.set("spark.sql.catalog.graftdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftdv.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdv.d")
    spark.sql("""CREATE TABLE graftdv.d.t (k BIGINT, v BIGINT)
      TBLPROPERTIES ('graft.deleteMode' = 'mor')""")
    spark.sql("INSERT INTO graftdv.d.t SELECT id, id * 10 FROM range(0, 100)")
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles: Int = {
      var n = 0
      def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
        val nm = st.getPath.getName
        if (st.isDirectory && !nm.startsWith("_GRAFT_DV")) walk(st.getPath)
        else if (nm.endsWith(".parquet") &&
          !st.getPath.getParent.getName.startsWith("_GRAFT")) n += 1
      }
      walk(new Path(root, "d/t"))
      n
    }
    val before = dataFiles
    spark.sql("DELETE FROM graftdv.d.t WHERE k % 3 = 0")
    assert(dataFiles == before, "MoR SQL DELETE must not rewrite files")
    assert(spark.sql("SELECT sum(v) FROM graftdv.d.t").head().getLong(0)
      == (0L until 100L).filterNot(_ % 3 == 0).map(_ * 10).sum)
    // compact materializes; the table then answers from metadata again
    spark.sql("CALL graftdv.system.compact('d', 't', 2, '')")
    assert(spark.sql("SELECT count(*) FROM graftdv.d.t").head().getLong(0)
      == (0L until 100L).count(_ % 3 != 0))
    // CDF tables refuse the mode loudly
    spark.sql("""CREATE TABLE graftdv.d.c (k BIGINT)
      TBLPROPERTIES ('graft.deleteMode' = 'mor', 'graft.cdf' = 'true')""")
    spark.sql("INSERT INTO graftdv.d.c SELECT id FROM range(0, 5)")
    intercept[Exception] {
      spark.sql("DELETE FROM graftdv.d.c WHERE k = 1")
    }
  }

  test("DV sidecar runs: encode/decode/merge/probe round-trip") {
    import spark.implicits._
    val dir = tmpDir("dv-runs")
    // two commits' worth of positions for one file: scattered + a run
    val dv1 = Seq.tabulate(50)(i => ("f1.parquet", i * 3L))
      .toDF("file", "pos")
    DvSidecar.writeSidecars(dv1, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val idx = DvSidecar.index(fs, new Path(dir))
    assert(idx.keySet == Set("f1.parquet"))
    val runs = DvSidecar.readRuns(conf, idx("f1.parquet"))
    (0L until 160L).foreach { p =>
      assert(runs.contains(p) == (p % 3 == 0 && p <= 147),
        s"pos $p")
    }
    assert(runs.cardinality == 50L)
    // contiguous range compresses to ONE run
    val dir2 = tmpDir("dv-runs2")
    DvSidecar.writeSidecars(
      (100L until 200L).map(("f1.parquet", _)).toDF("file", "pos"), dir2)
    val runs2 = DvSidecar.readRuns(conf,
      DvSidecar.index(fs, new Path(dir2))("f1.parquet"))
    assert(runs2.starts.length == 1 && runs2.cardinality == 100L)
    // merge of overlapping sets: multiples of 3 in [100,147] overlap
    // (102, 105, …, 147 — 16 positions)
    val m = DvSidecar.merge(Seq(runs, runs2))
    assert(m.cardinality == 50L + 100L - 16L)
    assert(m.contains(99L) && m.contains(150L) && m.contains(199L))
    assert(!m.contains(98L) && !m.contains(200L))
    // header read matches
    assert(DvSidecar.readHeader(fs,
      new Path(idx("f1.parquet")))._2 == 50L)
  }

  test("DV masking is a filter, not a join — and the plan collects nothing") {
    val lake = mkLake("plan")
    lake.append("t", rows(0, 1000))
    lake.deleteRowsMoR("t", schema, col("k") % 10 === 0)
    val df = lake.read("t", schema)
    assert(df.count() == 900L)
    // executor-side sidecar probe: the mask is a Filter over the scan —
    // the former broadcast anti-join (O(#deleted) driver memory) is gone
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("dvsurvives") || plan.contains("DvSurvives"),
      plan)
  }

  test("MoR UPDATE: one atomic commit — DV pre-images + post-image " +
    "data files, no rewrite") {
    val lake = mkLake("upd")
    lake.append("t", rows(0, 100))
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFileNames: Set[String] = lake.dataPaths("t").flatMap(r =>
      new Path(r).getFileSystem(conf).listStatus(new Path(r))
        .map(_.getPath.getName)).filter(_.endsWith(".parquet")).toSet
    val before = dataFileNames
    lake.updateRowsMoR("t", schema, col("k") % 10 === 0,
      Seq("v" -> (col("v") + 1000000L)))
    // post-images serve; non-matched rows untouched; nothing rewritten
    val got = lake.read("t", schema).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 100)
    (0L until 100L).foreach { k =>
      assert(got(k) == (if (k % 10 == 0) k * 10 + 1000000L else k * 10),
        s"k=$k")
    }
    assert(before.subsetOf(dataFileNames), "originals must not rewrite")
    // masked rows never resurrect: MoR-delete k=4, then update k<10
    lake.deleteRowsMoR("t", schema, col("k") === 4)
    lake.updateRowsMoR("t", schema, col("k") < 10,
      Seq("v" -> lit(7L)))
    val got2 = lake.read("t", schema).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!got2.contains(4L), "updating a deleted row must not " +
      "resurrect it")
    (0L until 10L).filterNot(_ == 4L).foreach(k => assert(got2(k) == 7L))
    // the V2 scan agrees, stays vectorized, and COUNT(*) still pushes
    // (post-image rows ride the manifests, deleted counts the DV index)
    val df = spark.read.format("graft.sources.LakehouseBatchProvider")
      .schema(schema).load(lake.tablePath("t"))
    assert(df.count() == 99L)
    assert(df.groupBy().count().queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    // the typed change feed emits delete(pre-image) + insert(post-image)
    val lake2 = mkLake("updfeed")
    lake2.append("t", rows(0, 20))
    val v1 = lake2.versions("t").map(_._1).max
    lake2.updateRowsMoR("t", schema, col("k") < 3,
      Seq("v" -> (col("v") + 5L)))
    val v2 = lake2.versions("t").map(_._1).max
    val feed = lake2.changeFeed("t", v1, v2, schema)
    val dels = feed.filter(col("_change_type") === "delete")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ins = feed.filter(col("_change_type") === "insert")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dels.sorted.toSeq == Seq((0L, 0L), (1L, 10L), (2L, 20L)))
    assert(ins.sorted.toSeq == Seq((0L, 5L), (1L, 15L), (2L, 25L)))
  }

  test("a DV commit without a counts index (legacy) still resolves " +
    "exact deleted counts via header reads") {
    val lake = mkLake("counts-legacy")
    lake.append("t", rows(0, 100), statsCols = Seq("k"))
    lake.deleteRowsMoR("t", schema, col("k") < 25)
    val conf = spark.sparkContext.hadoopConfiguration
    lake.dataPaths("t").foreach { r =>
      val f = new Path(new Path(r, "_GRAFT_DV"), "_dv_counts")
      val fs = f.getFileSystem(conf)
      if (fs.exists(f)) fs.delete(f, false)
    }
    val meta = graft.sources.LakehouseBatch.resolve(lake.tablePath("t"))
    assert(meta.dataFiles.flatMap(_.dv).map(_.deleted).sum == 25L,
      "header-read fallback must serve the same counts")
  }

  test("a pre-sidecar (parquet-only) DV commit is refused, not ignored") {
    import spark.implicits._
    val lake = mkLake("legacy")
    lake.append("t", rows(0, 10))
    lake.deleteRowsMoR("t", schema, col("k") === 1)
    // strip the sidecars + marker, leaving the legacy parquet-only shape
    val conf = spark.sparkContext.hadoopConfiguration
    lake.dataPaths("t").foreach { r =>
      val dvDir = new Path(r, "_GRAFT_DV")
      val fs = dvDir.getFileSystem(conf)
      if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { st =>
        if (!st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_SUCCESS"))
          fs.delete(st.getPath, true) // incl. the _extremes manifest dir
      }
    }
    val e = intercept[Exception] {
      lake.read("t", schema).count()
    }
    assert(e.getMessage.contains("sidecar"), e.getMessage)
  }

  test("the typed change feed resolves a DV commit to pre-image deletes") {
    val lake = mkLake("cdf")
    lake.append("t", rows(0, 40))
    val v1 = lake.versions("t").map(_._1).max
    lake.deleteRowsMoR("t", schema, col("k") % 4 === 0)
    val v2 = lake.versions("t").map(_._1).max
    val feed = lake.changeFeed("t", v1, v2, schema)
    val dels = feed.filter(col("_change_type") === "delete")
    assert(dels.count() == 10L)
    assert(dels.select("k").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 40L).filter(_ % 4 == 0))
    // full pre-image values, not key-only nulls — what signed MV folds
    // need to subtract measures
    assert(dels.filter(col("v") =!= col("k") * 10).count() == 0L)
    assert(dels.select("_commit_version").distinct().head().getLong(0)
      == v2)
  }

  test("an incremental MV survives a MoR delete (oracle = recompute)") {
    import graft.ops.MaterializedView
    val lake = mkLake("mv")
    lake.append("t", rows(0, 60))
    val spec = MaterializedView.Spec(
      Seq("g" -> (col("k") % 5)), Seq("sv" -> col("v")))
    MaterializedView.seed(lake, "mv", "t", schema, spec)
    lake.append("t", rows(60, 80))
    lake.deleteRowsMoR("t", schema, col("k") % 3 === 0)
    MaterializedView.refresh(lake, "mv", "t", schema, spec)
    val got = MaterializedView.read(lake, "mv", schema, spec)
      .orderBy("g").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = lake.read("t", schema)
      .groupBy((col("k") % 5).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .orderBy("g").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("streaming CDF serves DV commits as delete records") {
    val lake = mkLake("sdv")
    lake.append("t", rows(0, 30))
    lake.deleteRowsMoR("t", schema, col("k") < 5)
    val feedSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v BIGINT, _change_type STRING, _commit_version BIGINT")
    val q = spark.readStream.schema(feedSchema)
      .format("graft.sources.LakehouseStreamProvider")
      .option("readChangeFeed", "true")
      .load(lake.tablePath("t"))
      .writeStream.format("memory").queryName("sdv_out")
      .option("checkpointLocation", tmpDir("sdv-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("sdv_out")
    assert(out.filter(col("_change_type") === "insert").count() == 30L)
    val dels = out.filter(col("_change_type") === "delete")
    assert(dels.count() == 5L)
    assert(dels.select("k").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 5L))
    assert(dels.filter(col("v") =!= col("k") * 10).count() == 0L)
  }

  test("APPEND streams still refuse DV commits loudly (CDF serves them)") {
    val lake = mkLake("feed")
    lake.append("t", rows(0, 20))
    lake.deleteRowsMoR("t", schema, col("k") === 3)
    intercept[Exception] {
      spark.readStream.schema(schema)
        .format("graft.sources.LakehouseStreamProvider")
        .load(lake.tablePath("t"))
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("dv-ck"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
  }

  test("MoR DML on a day-partitioned fact with several live roots") {
    import spark.implicits._
    val lake = mkLake("fact")
    def day(ids: Seq[String], at: String) = spark.createDataFrame(
      ids.map(i => (i, ts(at), if (i.endsWith("neg")) "-1.00" else "1.00"))
        .toDF("trans_id", "trans_date", "amt0")
        .select(col("trans_id"), col("trans_date"),
          lit("c").as("card_num"), lit("o").as("oper_type"),
          col("amt0").cast("decimal(18,2)").as("amt"),
          lit("ok").as("oper_result"), lit("t").as("terminal")).rdd,
      graft.model.Schemas.factTransactions)
    val fact = graft.model.Schemas.factTransactions
    // two commits = two live roots, each with its own trans_dt_day dirs
    lake.appendPartitionedByDay("fact_transactions",
      day(Seq("a1", "a2neg"), "2020-05-01 10:00:00"), "trans_date")
    lake.appendPartitionedByDay("fact_transactions",
      day(Seq("b1neg", "b2"), "2020-05-02 10:00:00"), "trans_date")
    lake.deleteRowsMoR("fact_transactions", fact, col("amt") < 0)
    assert(lake.readWithPartitionColumns("fact_transactions")
      .select("trans_id", "trans_dt_day").as[(String, java.sql.Date)]
      .collect().toSet == Set("a1" -> d("2020-05-01"), "b2" -> d("2020-05-02")))
    // the MoR UPDATE's post-images land unpartitioned: the mixed layout
    // still reads as one relation, masks per file
    lake.updateRowsMoR("fact_transactions", fact, col("trans_id") === "b2",
      Seq("oper_result" -> lit("upd")))
    assert(lake.read("fact_transactions")
      .select("trans_id", "oper_result").as[(String, String)]
      .collect().toSet == Set("a1" -> "ok", "b2" -> "upd"))
  }

  test("one task writing several days leaves no repeated file name " +
    "for a deletion vector to over-delete") {
    import spark.implicits._
    val lake = mkLake("fact1task")
    val fact = graft.model.Schemas.factTransactions
    val rows = spark.createDataFrame(Seq(
      ("x1", ts("2020-05-01 10:00:00"), "-1.00"),
      ("x2", ts("2020-05-01 11:00:00"), "1.00"),
      ("y1", ts("2020-05-02 10:00:00"), "1.00"),
      ("y2", ts("2020-05-02 11:00:00"), "1.00"),
      ("z1", null, "1.00")).toDF("trans_id", "trans_date", "amt0")
      .select(col("trans_id"), col("trans_date"),
        lit("c").as("card_num"), lit("o").as("oper_type"),
        col("amt0").cast("decimal(18,2)").as("amt"),
        lit("ok").as("oper_result"), lit("t").as("terminal")).rdd, fact)
    // ONE task writes all three day dirs (the NULL day included): Spark
    // names the first file of each dir alike
    lake.appendPartitionedByDay("fact_transactions", rows.coalesce(1),
      "trans_date")
    val hfs = new Path(lake.dataPaths("fact_transactions").head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = lake.dataPaths("fact_transactions").flatMap(r =>
      hfs.listStatus(new Path(r)).toSeq.filter(_.isDirectory)
        .flatMap(dir => hfs.listStatus(dir.getPath).toSeq))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(names.size == 3 && names.distinct.size == 3, names)
    // the delete's position 0 of day 1 must not mask position 0 of the
    // other days
    lake.deleteRowsMoR("fact_transactions", fact, col("amt") < 0)
    assert(lake.readWithPartitionColumns("fact_transactions")
      .select("trans_id", "trans_dt_day").as[(String, java.sql.Date)]
      .collect().toSet == Set("x2" -> d("2020-05-01"),
        "y1" -> d("2020-05-02"), "y2" -> d("2020-05-02"), "z1" -> null))
  }

  test("an equality-delete probe fails on a file the read did not list") {
    val probe = graft.functions.EqDelSurvives(Nil, Nil,
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      Map("file:/t/_v1/part-0.parquet" -> 1L))
    assert(probe.probe(Array.empty, "file:/t/_v1/part-0.parquet"))
    val e = intercept[IllegalStateException](
      probe.probe(Array.empty, "file:/t/_v1/part-1.parquet"))
    assert(e.getMessage.contains("part-1.parquet"))
  }
}
