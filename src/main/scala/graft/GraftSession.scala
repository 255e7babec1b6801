package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the engine.
  *
  * Sized for the harness (`local[32]`, single JVM) but every setting scales:
  * shuffle partitions match core count locally (the driver prompt pins 32;
  * on a real cluster this would be ~2-3× total cores or AQE-coalesced), AQE
  * is on for runtime re-planning (skew joins, partition coalescing), and the
  * session timezone is pinned UTC so all wall-clock fraud-window arithmetic
  * matches the DuckDB oracle.
  */
object GraftSession {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE inside CACHED plans too (off by default for one niche
      // consumer class — callers that pin a cached frame's output
      // partitioning; none here): without it every .cache()
      // materialization runs its shuffles at the full static partition
      // count — the SCD delta caches collected across 34 near-empty
      // tasks, each paying the per-task fixed costs (conf gunzip,
      // writer init). Scale-neutral: it merely extends the session's
      // existing AQE coalescing to cache builds.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Whole-stage codegen embeds a GLOBALLY incrementing stage id in
      // the generated class NAME by default, so no two codegen stages in
      // an application ever share source text — the generated-class
      // cache can never hit across repeated query shapes, and janino +
      // HotSpot recompile every plan forever. On the q49 protocol replay
      // (242 jobs) that measured as 125-150 s of JIT time per REPEATED
      // run (vs 1 s of GC). Dropping the id from the class name restores
      // source-identical codegen (the id still appears in the comment /
      // job description for debugging); any long-lived executor running
      // recurring query shapes wants this.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Streaming-checkpoint WAL io measured 120-200 ms per micro-batch
      // (walCommit + commitOffsets in the progress telemetry) — the
      // FileContext path for file:// routes through the CHECKSUMMED
      // LocalFs, which doubles every metadata-file op with a .crc
      // sibling. Route it through the raw form instead: production
      // checkpoints live on object stores whose integrity is the
      // store's, not a client-side CRC sibling — the raw local form is
      // the parity configuration, not a shortcut. The FileSystem-API
      // face (`fs.file.impl`: the lakehouse protocol, parquet io) drops
      // its `.crc` siblings too, for the same reason — see
      // graft.storage.NoChmodLocalFileSystem, which turns checksum
      // writing and verifying off. Both local filesystems also skip the
      // per-create `chmod` FORK that Hadoop falls back to without its
      // native library — sampled at ~15 % of driver wall on the warm
      // q102 lifecycle (see graft.storage.NoChmodRawLocalFileSystem).
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.storage.NoChmodRawLocalFs")
      .config("spark.hadoop.fs.file.impl",
        "graft.storage.NoChmodLocalFileSystem")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) which vanilla Spark 4
      // refuses; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Commit-protocol fs-op diet (metered via tools/MeteredFs): v2
      // task commits rename part files straight into the destination
      // (no second job-commit rename pass over every task dir), and the
      // _SUCCESS marker is dead weight — every graft write lands in a
      // PRIVATE uncommitted version dir whose visibility is the
      // protocol's own marker file, and external result dumps are read
      // by parquet listing, never by _SUCCESS probing. Together ~6 fs
      // ops per write job — at an object store, 6 RPCs per commit.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // …and the remaining staging tree goes entirely: task files write
      // DIRECTLY to their final paths. Visibility is the graft commit
      // marker, not the job commit — see [[graft.storage.
      // GraftDirectCommitProtocol]] for why that makes this safe here.
      // Requires speculation off (two live attempts would race one
      // final file) — pinned explicitly, not assumed from the default.
      .config("spark.sql.sources.commitProtocolClass",
        "graft.storage.GraftDirectCommitProtocol")
      .config("spark.speculation", "false")
      // NOTE the session keeps Spark's INT96 timestamp default: the
      // driver's oracle compare reads result dumps through pandas,
      // where an isAdjustedToUTC TIMESTAMP(MICROS) surfaces tz-AWARE
      // and hash-mismatches DuckDB's naive values. Lakehouse-INTERNAL
      // writes opt into TIMESTAMP_MICROS per-write instead (the
      // footer-derived zone maps need real INT64 statistics; INT96
      // carries none) — see Lakehouse.writeVersion's scoped override.

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
