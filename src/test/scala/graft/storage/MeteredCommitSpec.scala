package graft.storage

import graft.SparkSpec
import graft.tools.MeteredFs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Pins the commit protocol's PER-OPERATION filesystem-op bill (the
  * round-11 fixed-cost work; `StressCommit cost` is the measuring
  * harness, this spec is the regression gate). Every op through the
  * [[MeteredFs]] `graftmeter://` scheme is an RPC on an object store,
  * so these ceilings are the engine's commit/resolve latency floor at
  * 100 TB ingest rates:
  *
  *  - an APPEND is O(1) — independent of chain length (one root
  *    listing claims the version; nothing walks the chain);
  *  - a live-set RESOLVE is O(tail) — commit kinds answer from the
  *    newest metadata checkpoint, only dirs above it pay a probe;
  *  - the merge-on-read MATCHED SCAN plans O(#masks + 1) relations,
  *    never O(#roots) — roots between two mask versions share one
  *    scan node (round 11: 103 one-file relations at a 100-commit
  *    chain cost ~5x the wall of the same bytes through one node).
  *
  * Ceilings carry slack over the measured numbers (append 30-33,
  * resolve ~7 at tail ≤ 5) so committer-layout noise never flakes the
  * suite, while an O(chain) regression — hundreds of ops — always
  * fails loudly.
  */
class MeteredCommitSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("grp", StringType), StructField("v", StringType)))

  private def batch(from: Long, n: Long) =
    spark.range(from, from + n, 1, 1)
      .select(col("id").as("k"),
        concat(lit("g"), col("id") % 8).as("grp"),
        concat(lit("v"), col("id")).as("v"))

  private def ops[A](body: => A): Long = {
    MeteredFs.reset(); body; MeteredFs.total()
  }

  test("append is O(1) ops, resolve is O(tail), the MoR matched scan " +
    "plans one relation per mask group") {
    MeteredFs.install(spark.sparkContext.hadoopConfiguration)
    val root = tmpDir("metered-commit")
    val lake = new Lakehouse(spark, s"graftmeter://$root/lake")
    withSQLConf("spark.graft.checkpointIntervalCommits" -> "5") {
      (0 until 12).foreach(i =>
        lake.append("t", batch(i * 100L, 100L), statsCols = Seq("k")))
      // warm-up (class loading, committer init) — not measured
      lake.append("t", batch(900000L, 1L), statsCols = Seq("k"))
      lake.dataPaths("t")

      val append = ops(lake.append("t", batch(1000000L, 1L),
        statsCols = Seq("k")))
      assert(append <= 40L,
        s"append fixed cost regressed: $append fs ops (measured ~32; " +
          "an O(chain) term would read hundreds here)")

      val resolve = ops(lake.dataPaths("t"))
      assert(resolve <= 14L,
        s"live-set resolve regressed: $resolve fs ops — commit kinds " +
          "must answer from the checkpoint, tail-only probes " +
          "(measured ~7 at tail <= interval 5)")

      // no masks: the whole 14-root chain must be ONE scan relation
      def scanCount(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.size
      val noMask = lake.readMaskedWithPos("t", schema)
      assert(scanCount(noMask) == 1,
        "mask-free roots must group into ONE relation")

      // one DV: roots below it carry the mask, the DV's own commit
      // (and anything later) doesn't — the mask applies per FILE, so
      // the scan stays ONE relation
      lake.deleteRowsMoR("t", schema, col("k") === 5L)
      lake.append("t", batch(2000000L, 1L), statsCols = Seq("k"))
      val oneMask = lake.readMaskedWithPos("t", schema)
      assert(scanCount(oneMask) == 1,
        "a DV must not split the scan: per-file masks, one relation")
      assert(oneMask.filter(col("k") === 5L).count() == 0L,
        "the single scan must still apply the mask")
      assert(oneMask.count() ==
        12L * 100L + 3L - 1L, "single-scan row count")
    }
  }

  test("the 3-day protocol replay's total fs-op bill stays under its " +
    "round-12 ceiling") {
    // End-to-end regression gate for the round-12 commit-cost work
    // (delta-logical SCD loads + driver-side small DVs + the
    // direct-write committer): measured 1229 ops, down from 1774 —
    // ceiling carries slack for file-layout noise, but an O(commits)
    // or O(files) regression anywhere on the ingest path reads
    // hundreds over and fails here before a bench artifact ever
    // shows it.
    MeteredFs.install(spark.sparkContext.hadoopConfiguration)
    val root = tmpDir("metered-replay")
    val lake = new Lakehouse(spark, s"graftmeter://$root/lake")
    val bill = ops(graft.ReplayDump.replay(lake,
      graft.mart.MartStaging.Scd2Dims,
      fixtureDir = "/root/repo/src/test/resources/fixtures"))
    assert(bill <= 1450L,
      s"3-day replay op bill regressed: $bill fs ops (measured 1229 " +
        "at round 12, was 1774 before the delta-logical dim loads)")
  }
}
