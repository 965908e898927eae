package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's production configuration —
  * the knobs a 1000-executor deployment would set, applied identically
  * to the local[N] harness so what we test is what ships:
  *
  *  - AQE on, with skew-join splitting: runtime re-planning fixes
  *    stats misestimates and splits hot shuffle partitions — the
  *    first line of defense at 100 TB (SkewJoin.saltedJoin is the
  *    explicit fallback for pathological keys).
  *  - Runtime bloom-filter join pruning: Spark injects a membership
  *    sketch of the small side into big-side scans (the implicit
  *    sibling of graft.operators.BloomJoin).
  *  - Shuffle partitions sized to the core count here; a cluster
  *    deployment overrides to ~2-3× total cores (AQE coalesces the
  *    excess, so oversizing is cheap and undersizing is not).
  *  - UTC session timezone: timestamp semantics must not depend on
  *    executor-host locale.
  *  - [[GraftExtensions]] injected: the SQL surface (graft_dot,
  *    graft_shingles) and the dim auto-broadcast rule are part of the
  *    engine, not an opt-in.
  */
object GraftSession {

  def configure(
      b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // file:// permission writes as NIO syscalls, not forked chmod
      // processes (see NoForkLocalFs)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NoForkLocalFileSystem].getName)

  /** The harness shape: local[cpus], UI off, partitions = cores. */
  def local(cpus: Int): SparkSession = {
    val s = configure(SparkSession.builder(), cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
