package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Scale posture (SURVEY §2.10 T11 + §7.2 step 7): AQE on (runtime
  * re-planning, skew-join splitting — the reference's 2-scene whitelist
  * implies heavy key skew), shuffle partitions sized to the machine rather
  * than the 200 default, UTC session time, RocksDB state store for streaming
  * jobs whose keyed state exceeds heap (the reference's RocksDB/FsState
  * choice at `flink-base/.../process/MyProcessDemo.scala:22`,
  * `flink-statistics/.../action/ActionLogJob.java:85`). Checkpointing is
  * per-query (`option("checkpointLocation", …)`), replacing the reference's
  * 60 s exactly-once checkpoints + HBase state rehydration (T12).
  *
  * Generated-code cache: Spark keeps compiled whole-stage classes in a
  * JVM-wide cache keyed by (class loader, source), sized ONCE when
  * `CodeGenerator` first initialises, from the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100). Measured working
  * set: the first `reco_batch` benchmark iteration compiles about 240
  * (class loader, source) pairs, and one `rank_past_bound` iteration about
  * 170; each whole-stage source counts twice, once under the driver's
  * class loader and once under the executor's. With the default cap
  * nearly every query recompiled its classes on every run (about 20 ms
  * each in Janino). Hence: every session of this repository — mains,
  * benchmark and tests — is built here, so the first session to compile
  * always carries the cap.
  *
  * Artifact isolation is off (`spark.sql.artifact.isolation.enabled`).
  * Isolation gives each session, and so each streaming query's cloned
  * session, its own artifact state and executor class loader; since the
  * class cache is keyed by class loader, every new streaming query then
  * compiled its 40-odd classes again and never hit them on a later run.
  * Isolation only separates artifacts (jars, files, archives) that one
  * session adds from its siblings, and nothing here adds any: no
  * `addArtifact` call and no Spark Connect server. With it off, a re-run
  * of a streaming dashboard compiles nothing (`CodegenCacheSpec`).
  *
  * Whole-stage class names carry no stage id
  * (`spark.sql.codegen.useIdInClassName`). The id is a per-query counter,
  * and under AQE it follows the order in which query stages are planned,
  * which is not the same from run to run: the same stage body came out as
  * `GeneratedIteratorForCodegenStage6` once and `…Stage7` the next time,
  * a different source and so a cache miss. That accounted for about 50 of
  * the classes a measured `reco_batch` iteration still compiled; the id
  * stays in the generated code's comment and in every plan string.
  */
object Sessions {
  def builder(appName: String, cores: Int = Runtime.getRuntime.availableProcessors(),
              rocksDbState: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      // same injection path as spark.sql.extensions=graft.GraftExtensions
      // on a cluster: library sessions and config-wired sessions resolve
      // the same SQL function names (graft_fp, graft_mix57, vec_dot, …)
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      // plan strings are diagnostics — cap them. A pipeline of
      // self-referencing stages (each join holds the full upstream tree
      // TWICE) grows toString multiplicatively, and AQE stringifies the
      // plan on every update: the uncapped default OOM'd the curation
      // job's driver at sf0.01 before any data moved
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      // list partitioned stores (the 768-dir IVF/PQ postings tree, the
      // inverted index's term groups) serially on the driver: above the
      // 32-dir default Spark launches a listing JOB whose scheduling
      // overhead is ~2 s against a local filesystem where the serial walk
      // is ~10 ms (measured: every stored-index open paid it). A cluster
      // deployment against S3/HDFS lowers this back so listing
      // parallelizes across executors — it is a per-deployment knob
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "8192")
      // 1000 holds a batch iteration's ~240 classes with headroom for the
      // cache's per-segment split (a Guava cache evicts per segment, well
      // before the whole cap fills) and for sources that differ per run;
      // 4096 measured no faster
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // one class loader for every session and its clones, so streaming
      // queries share the generated-class cache, and class names that do
      // not vary with AQE's stage order (see the scaladoc)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
    if (rocksDbState)
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else b
  }

  def local(appName: String, cores: Int = Runtime.getRuntime.availableProcessors())
  : SparkSession =
    builder(appName, cores).master(s"local[$cores]").getOrCreate()
}
