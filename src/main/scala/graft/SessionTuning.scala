package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession, and the session-wide engine
  * tuning it applies. Every entry point builds its session here: the
  * driver mains (Bench, Verify), the measurement mains (Explain,
  * Profile, ScaleProbe) and the test harness (SparkSpec).
  *
  * Grown during the optimization rounds; every tuning entry is
  * measured, has a scale rationale (not a local[32] artifact), and
  * cannot change query RESULTS — only how fast identical results are
  * produced.
  */
object SessionTuning {
  /** Core count of the local session: `$SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cores]` session with graft's extensions installed (the SQL
    * DML rule can only be injected at session build), `cores` shuffle
    * partitions, UTC, no UI, [[sparkConf]] and WARN logging. */
  def session(cores: Int = envCores): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sparkConf(cores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Spark conf entries folded into each session builder —
    * core-count-aware: call with the session's core count (the
    * `local[N]` N at the entry points; a cluster session would pass
    * its executor-core total).
    *
    * - Fork-free local FS wiring: see [[graft.sources.NoForkFs]].
    * - `spark.sql.streaming.checkpoint.fileChecksum.enabled=false`:
    *   Spark 4.1 turned on sidecar checksum files for every streaming
    *   checkpoint write (state deltas, offset/commit log entries).
    *   Thread dumps of the stream-stream join bench showed every
    *   state-store commit blocked in
    *   `ChecksumCancellableFSDataOutputStream.close` awaiting the
    *   async checksum-file write — per batch, per partition, per
    *   store (a stream-stream join keeps 4 stores per partition), the
    *   commit path pays a second small-file round trip. That doubles
    *   checkpoint file ops at ANY scale and on object stores doubles
    *   PUT traffic; the pre-4.1 behavior (no sidecars) is what Delta/
    *   vanilla deployments ran for years. Disabling restores it.
    *   Interleaved A/B on `stream_join_outer` (reps=1, alternating,
    *   host-calibrated): ON {10.6, 8.7, 13.6} s vs OFF {9.1, 7.6,
    *   9.1} s — OFF faster in all three pairs.
    * - `parallelPartitionDiscovery.parallelism` defaults to 10000,
    *   which makes every distributed file-listing job launch ONE TASK
    *   PER PATH: the binaryFile-stream bench (`stream_image_dedup`,
    *   5000 staged files) spent 4.5 s wall per 2048-task listing job
    *   on ≤0.2 s of actual stat work — pure scheduling overhead, 12×
    *   per run. Listing is latency-bound I/O, so a small multiple of
    *   the core count keeps full overlap at any cluster size while
    *   bounding task-scheduling cost; 10000 single-path tasks is only
    *   right when paths ≫ 10000.
    * - `spark.sql.artifact.isolation.enabled=false`: Spark caches each
    *   generated class under (thread context class loader, source).
    *   With isolation on (the default), every session clone gets its
    *   own executor class loader, and every streaming query clones
    *   the session, so each `Pipeline.runIncremental` refresh missed
    *   that cache on every executor-side compile: 26 classes
    *   recompiled per `stream_medallion` batch in steady state, 0
    *   with isolation off, and the batch's median fell 0.95 → 0.65 s
    *   (4 cores). Graft adds no session artifacts (no `addArtifact`,
    *   no Spark Connect), so isolation has nothing to isolate; the
    *   count of compiles per refresh does not grow with data size.
    * - `spark.sql.codegen.cache.maxEntries=1000` (default 100, an
    *   LRU): one `llm_curation` pass compiles about 110–160 distinct
    *   classes (driver and executor keys counted apart), so the
    *   100-entry LRU evicted what the next pass needed and every pass
    *   recompiled about 110 classes (0 at 1000); passes fell from
    *   4.7–5.5 s to 3.3–4.1 s on 4 cores. Sized from the working set
    *   of one operation, which depends on plan shapes, not data
    *   size. Static: read once, when `CodeGenerator` is first
    *   initialized, so it only takes effect at session build.
    */
  def sparkConf(cores: Int): Seq[(String, String)] =
    graft.sources.NoForkFs.sparkConf ++ Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.sources.parallelPartitionDiscovery.parallelism" ->
        math.min(10000, math.max(32, 4 * cores)).toString,
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "1000",
    )
}
