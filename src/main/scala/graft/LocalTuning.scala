package graft
import org.apache.spark.sql.SparkSession

/** Shuffle tuning for single-host (local[n]) runs, applied to every
  * entry-point session builder.
  *
  * Why this exists (round-8 profiling): a plain two-exchange aggregate over
  * 230k in-memory longs burned ~60 s of task runtime at local[32] — stack
  * samples showed nearly all of it inside `FileOutputStream.open0` /
  * `FileChannelImpl.map0/unmap0`. The cause is the BYPASS-merge shuffle
  * writer: at `spark.sql.shuffle.partitions` ≤ 200 (we run 32) Spark picks
  * BypassMergeSortShuffleWriter, which opens ONE FILE PER REDUCE PARTITION
  * per map task — 32×32 = 1024 file create/delete pairs per exchange, and
  * this container's filesystem serializes creates across 32 threads.
  *
  * Fixes, both semantics-free and both consistent with what a real cluster
  * executes:
  *
  *  - `spark.shuffle.sort.bypassMergeThreshold=1` forces the SERIALIZED
  *    sort shuffle writer (UnsafeShuffleWriter): one spill file + one index
  *    per map task, partitions merged in memory. At production partition
  *    counts (>200) Spark NEVER uses the bypass writer — local[32] with 32
  *    partitions fell under the threshold by accident, so pinning the
  *    serialized writer makes local execution match the at-scale path.
  *  - shuffle scratch on tmpfs (`/dev/shm`) when present: local shuffle
  *    blocks are transient byte streams; a cluster puts them on fast local
  *    NVMe, and this host's equivalent is RAM-backed tmpfs. Falls back to
  *    the default `spark.local.dir` when /dev/shm is absent (non-Linux),
  *    not writable, not creatable, or lacking real headroom (a
  *    Docker-default 64 MB tmpfs would otherwise ENOSPC a data-volume
  *    entry point like [[Pull]] mid-job).
  *
  * Measured (5-run aggregate microbench, local[32]): wall 3.0 → 0.9 s,
  * task runtime 58 → 2.4 s, task CPU 45 → 1.6 s.
  */
object LocalTuning {
  /** The local session of every entry point that runs the declared
    * queries — Bench, BenchOne, Verify and the plan audit — so all four
    * plan them alike: `local[cpus]` with one shuffle partition per core,
    * UTC, Parquet aggregate pushdown, the graft SQL extensions with the
    * range-join rewrite armed at one-hour bins, and this object's shuffle
    * tuning. `confs` go on top (Verify's `graft.*` system properties). */
  def session(cpus: String, confs: Seq[(String, String)] = Nil): SparkSession =
    confs.foldLeft(apply(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binWidth", "3600000000")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** Minimum usable space on /dev/shm before shuffle scratch moves there:
    * a Docker-default 64 MB tmpfs (or any nearly-full one) must fall back
    * to the disk-backed default rather than die mid-job on ENOSPC. */
  private val MinShmBytes = 16L << 30

  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val tuned = b.config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // janino class cache (STATIC conf, default 100 entries): the suite
      // declares 236 distinct queries x several codegen units each, so at
      // the default size the warm-up's compiled classes are LRU-evicted
      // before the measured pass and janino recompiles inside timed
      // regions. 5000 entries keeps every unit resident (~10 KB/class —
      // tens of MB); semantics-free, pure floor shave (r10 verdict item 7).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // ObjectHashAggregate's sort-based fallback fires after 128 distinct
      // groups PER PARTITION (Spark's default) — every sortedSetOf /
      // collect_list aggregation in the suite (basket pair-gen, token
      // sets, adjacency folds) has thousands of groups per partition and
      // was silently paying a full per-partition SORT instead of the hash
      // path (measured r18: ext_path_counts edge build 32.5 → 15.5 s task
      // time). 128k groups ≈ tens of MB of hash-map state per partition at
      // this suite's state sizes — far under executor memory at any SF the
      // shuffle-partition sizing targets; the fallback still protects
      // genuinely unbounded group counts. Semantics-free (execution
      // strategy only).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "131072")
    scratchDir match {
      case Some(dir) => tuned.config("spark.local.dir", dir)
      case None => tuned
    }
  }

  /** The tmpfs scratch root, ONLY when it was actually creatable and the
    * tmpfs has real headroom — any failure falls back to the default
    * `spark.local.dir` (pinning an unusable path would abort SparkContext
    * creation in every entry point). */
  private def scratchDir: Option[String] =
    try {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)
          && shm.toFile.getUsableSpace >= MinShmBytes) {
        val dir = shm.resolve("graft-local")
        java.nio.file.Files.createDirectories(dir)
        Some(dir.toString)
      } else None
    } catch { case _: Throwable => None }
}
