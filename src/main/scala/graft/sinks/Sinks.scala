package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink operators (SURVEY §2.2). HBase/Redis/ES cluster fidelity is a
  * non-goal (§7.3): the external stores become (a) a keyed parquet "metric
  * store" with idempotent upsert — the semantic core of the reference's
  * rowkey-overwrite HBase writes — and (b) a pluggable [[KeyValueSink]] with
  * the reference's Redis list contract enforced upstream as a transform.
  */
object Sinks {

  /** K1: text sink, overwrite (`ItemIdCfVersion5.java:278-285`). */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** K2: CSV sink with custom delimiter and the reference's fixed
    * parallelism 24 (`OfflineDataSetUtils.java:209-212`). */
  def writeCsv(df: DataFrame, path: String, sep: String = "/",
               parallelism: Int = 24): Unit =
    df.repartition(parallelism).write.mode(SaveMode.Overwrite)
      .option("sep", sep).csv(path)

  /** K7 replacement: metric-store upsert — read-merge-write keyed parquet,
    * overwrite-by-key like the reference's HBase rowkey puts
    * (`HBaseOutputFormat.java:35-45`). Used from `foreachBatch` for
    * streaming T5/T12 (idempotent: re-running a batch converges).
    *
    * At scale the store would be a transactional table format; plain
    * parquet + full-key anti-join merge keeps the same semantics here.
    */
  def upsertMetricStore(spark: SparkSession, path: String, updates: DataFrame,
                        keyCols: Seq[String]): Unit =
    replaceDir(spark, path) { tmp =>
      // existence must be checked explicitly (and after the swap's
      // recovery): treating ANY read failure as "store missing" would
      // overwrite the store with just this batch's updates on a transient
      // IO error — silent loss of all accumulated metrics. A real failure
      // propagates so the streaming batch retries.
      val (fs, hp) = fsPath(spark, path)
      val merged =
        if (!fs.exists(hp)) updates
        else spark.read.parquet(path)
          .join(updates.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_anti").unionByName(updates)
      merged.write.parquet(tmp)
    }

  /** The crash-safe swap every store rewritten in place goes through
    * (the snapshot-then-recover contract of a checkpointed sink): repair
    * a swap a crash left half done ([[recoverSwap]]), drop a stale
    * `path__tmp`, `write(tmp)`, park the live dir as `path__old`, rename
    * the tmp dir into place, drop the parked copy. Never delete-then-
    * rename: at every instant either `path` or `path__old` holds the
    * full content, so a crash leaves one of three states — a partial
    * `__tmp` beside the live dir, the live dir parked with no `path`, or
    * the new dir published beside its parked predecessor — each of which
    * the next call repairs instead of re-seeding the store from one
    * batch. `write` runs while the live dir is still in place, so it may
    * read it (lazily or not). Single-writer per `path`. */
  def replaceDir(spark: SparkSession, path: String)
                (write: String => Unit): Unit = {
    recoverSwap(spark, path)
    val (fs, _) = fsPath(spark, path)
    val tmp = new Path(path + "__tmp")
    fs.delete(tmp, true)
    write(tmp.toString)
    publishDir(spark, tmp.toString, path)
  }

  /** The publish half of [[replaceDir]] for a replacement already written
    * elsewhere: repair a half-done swap of `path`, park it, rename `src`
    * into place, drop the parked copy. `src` stays whole until the
    * rename, so a crash leaves `src` or `path` holding the new content
    * and `path` or `path__old` the old. */
  def publishDir(spark: SparkSession, src: String, path: String): Unit = {
    recoverSwap(spark, path)
    val (fs, dst) = fsPath(spark, path)
    val parked = new Path(path + "__old")
    publish(fs, new Path(src), dst, parked)
    fs.delete(parked, true) // best-effort: leftover __old is repaired next run
  }

  /** The recovery half of [[replaceDir]] on its own, for writers that
    * must read the live store BEFORE they build its replacement (a read
    * inside the torn window would see no store and answer as if it were
    * empty). Plain readers stay read-only: a reader that renamed would
    * race other readers, and the torn window already fails loud or reads
    * as absent. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val (fs, dst) = fsPath(spark, path)
    recoverOld(fs, new Path(path + "__old"), dst)
  }

  private def fsPath(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Park `dst` (when it exists) at `parked`, then rename `src` into
    * place — the one publish step of every swap. */
  private def publish(fs: FileSystem, src: Path, dst: Path,
                      parked: Path): Unit = {
    if (fs.exists(dst)) renameOrThrow(fs, dst, parked)
    renameOrThrow(fs, src, dst)
  }

  /** Hadoop rename returns `false` (no exception) on many failures; a swap
    * step that silently no-ops would let the next step destroy the only
    * surviving copy — fail loud so the streaming batch retries instead. */
  private[graft] def renameOrThrow(fs: FileSystem, src: Path,
                                   dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Crash recovery for the rename-swap protocol: `old` holds the previous
    * content of a destination that was being replaced. Destination missing
    * → the rename-into-place never happened, restore the old content;
    * destination present → the swap completed and the old copy is garbage.
    */
  private def recoverOld(fs: FileSystem, old: Path, dst: Path): Unit =
    if (fs.exists(old)) {
      if (!fs.exists(dst)) renameOrThrow(fs, old, dst)
      else { fs.delete(old, true); () }
    }

  /** Day-partitioned metric-store upsert — the incremental form for
    * per-trigger streaming flushes: `updates` must carry the partition
    * column `dayCol`, and the merge reads + rewrites ONLY the partitions
    * named in the updates. Untouched `day=` directories are never read,
    * rewritten, or even listed, so a long-lived store costs O(touched days)
    * per trigger, not O(history) — the flush-only-what-changed behavior of
    * the reference's per-window HBase puts.
    *
    * Two steps, which a caller with more than one store may interleave:
    * [[mergeDays]] builds the touched days' new content, the caller
    * writes it to `path__tmp` (partitioned by `dayCol`), and
    * [[publishDays]] swaps those days into place.
    */
  def upsertMetricStorePartitioned(spark: SparkSession, path: String,
                                   updates: DataFrame, keyCols: Seq[String],
                                   dayCol: String = "day"): Unit = {
    val u = updates.persist()
    try {
      val days = touchedDays(u, dayCol)
      if (days.isEmpty) return
      // the merge plan reads the very files being replaced: materialize it
      // into the tmp dir first, then swap only the touched partition dirs
      val tmp = path + "__tmp"
      mergeDays(spark, path, u, keyCols, days, dayCol)
        .write.mode(SaveMode.Overwrite).partitionBy(dayCol).parquet(tmp)
      publishDays(spark, tmp, path, days, dayCol)
    } finally u.unpersist()
  }

  /** The distinct `dayCol` values of `updates` — one job. */
  def touchedDays(updates: DataFrame, dayCol: String = "day"): Seq[Long] =
    updates.select(col(dayCol)).distinct().collect().map(_.getLong(0))
      .toIndexedSeq

  /** The merge step of [[upsertMetricStorePartitioned]]: the stored rows
    * of the touched `days` whose key the updates do not carry, plus the
    * updates — the days' full new content, lazily. It first repairs days
    * a crash left parked (a parked day read here would look empty), then
    * reads ONLY the touched day dirs; basePath keeps the partition
    * column, and the rest of the store is not even listed. */
  def mergeDays(spark: SparkSession, path: String, updates: DataFrame,
                keyCols: Seq[String], days: Seq[Long],
                dayCol: String = "day"): DataFrame = {
    val (fs, _) = fsPath(spark, path)
    recoverDays(fs, path)
    val existingDirs = days.map(d => new Path(path, s"$dayCol=$d"))
      .filter(fs.exists).map(_.toString)
    if (existingDirs.isEmpty) updates
    else spark.read.option("basePath", path).parquet(existingDirs: _*)
      .join(updates.select(keyCols.map(col): _*).distinct(), keyCols,
        "left_anti")
      .unionByName(updates)
  }

  /** The publish step of [[upsertMetricStorePartitioned]]: swap each of
    * `days` from `tmp` (a `dayCol`-partitioned write) into the store under
    * [[replaceDir]]'s protocol, with its parked copy at
    * `path__old/day=<d>` — OUTSIDE the store root, where it can never read
    * back as a bogus partition value — then drop `tmp`. A crash mid-loop
    * leaves some days swapped and some not; the next merge or publish
    * repairs every parked day first, and a re-run of the batch is an
    * idempotent upsert over the days it already swapped. */
  def publishDays(spark: SparkSession, tmp: String, path: String,
                  days: Seq[Long], dayCol: String = "day"): Unit = {
    val (fs, hp) = fsPath(spark, path)
    recoverDays(fs, path)
    val oldRoot = new Path(path + "__old")
    fs.mkdirs(hp)
    fs.mkdirs(oldRoot)
    days.foreach { d =>
      val src = new Path(tmp, s"$dayCol=$d")
      if (fs.exists(src))
        publish(fs, src, new Path(hp, s"$dayCol=$d"),
          new Path(oldRoot, s"$dayCol=$d"))
    }
    fs.delete(new Path(tmp), true)
    fs.delete(oldRoot, true)
  }

  /** Repair every day a crashed [[publishDays]] left parked under
    * `path__old`, then drop the parked root. */
  private def recoverDays(fs: FileSystem, path: String): Unit = {
    val oldRoot = new Path(path + "__old")
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).foreach(st =>
        recoverOld(fs, st.getPath, new Path(path, st.getPath.getName)))
      fs.delete(oldRoot, true)
    }
  }

  /** K4/K5/K6 abstraction: keyed writes with DEL→RPUSH→EXPIRE (list) or
    * HSET (hash) or SQL-upsert semantics. Implementations hold no Spark
    * state; executors call per partition.
    */
  trait KeyValueSink extends Serializable {
    def putList(key: String, values: Seq[String], ttlSeconds: Long): Unit
    def putHash(key: String, field: String, value: String): Unit
  }

  /** In-memory KV sink for tests (single-JVM local mode). Storage is
    * static: Spark serializes the sink into executor closures, so instance
    * fields would be written on a copy — the JVM-global maps make writes
    * visible to the driver. */
  class InMemoryKv extends KeyValueSink {
    def lists: ConcurrentHashMap[String, Seq[String]] = InMemoryKv.lists
    def hashes: ConcurrentHashMap[String, String] = InMemoryKv.hashes
    override def putList(key: String, values: Seq[String],
                         ttlSeconds: Long): Unit = InMemoryKv.lists.put(key, values)
    override def putHash(key: String, field: String, value: String): Unit =
      InMemoryKv.hashes.put(s"$key/$field", value)
  }

  object InMemoryKv {
    val lists = new ConcurrentHashMap[String, Seq[String]]()
    val hashes = new ConcurrentHashMap[String, String]()
  }

  /** K4 wiring: a real Redis-protocol sink when `GRAFT_REDIS=host:port` is
    * set (see [[RespKv]]), the in-memory test sink otherwise — so jobs are
    * written once against [[KeyValueSink]] and the environment picks the
    * backend. */
  def kvFromEnv(env: Map[String, String] = sys.env): KeyValueSink =
    env.get("GRAFT_REDIS") match {
      case Some(hp) =>
        val Array(h, p) = hp.split(":", 2)
        new RespKv(h, p.toInt)
      case None => new InMemoryKv
    }

  /** K4: Redis list publishing with the reference's contract
    * (`Hdfs2RedisVersion5.java:67-102`): value lists sorted desc by score,
    * min length 20, cap 400, TTL 7 days, single writer (`coalesce(1)` — the
    * reference forces parallelism 1). Expects (key, values) rows where
    * `values` is the pre-sorted, pre-capped array — see
    * `graft.ops.Ranking.orderedConcat` for building it.
    */
  def publishLists(df: DataFrame, sink: KeyValueSink,
                   ttlSeconds: Long = 7L * 24 * 3600,
                   singleWriter: Boolean = true): Unit = {
    val d = if (singleWriter) df.coalesce(1) else df
    d.select(col("key").cast("string"), col("values").cast("array<string>"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          sink.putList(r.getString(0), r.getSeq[String](1), ttlSeconds)
        }
      }
  }

  /** K5: Redis hash publishing — the `HSET sensor <id> <temp>` mapper shape
    * (`flink-base/.../sink/MyRedisMapper.scala:12-20`): one HSET per row
    * into a fixed hash key. */
  def publishHashes(df: DataFrame, sink: KeyValueSink, hashKey: String,
                    fieldCol: String = "id", valueCol: String = "value"): Unit =
    df.select(col(fieldCol).cast("string"), col(valueCol).cast("string"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach(r => sink.putHash(hashKey, r.getString(0), r.getString(1)))
      }

  /** K9: Kafka producer sink (`flink-base/.../source/KafkaSource.scala:
    * 28-30`) — streaming writer shape; expects a `value` (and optional
    * `key`) string column. */
  def kafkaWriter(df: DataFrame, servers: String, topic: String,
                  checkpoint: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** K6: JDBC-style upsert via generic executor callback (try-update,
    * insert-on-miss — `flink-base/.../sink/MyJdbcSink.scala:19-43`). The
    * callback owns connection lifecycle per partition. */
  def upsertForeach(df: DataFrame)(open: () => (String, Seq[Any]) => Unit)
  : Unit =
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val upsert = open()
      rows.foreach(r => upsert(r.getString(0), r.toSeq.tail))
    }
}
