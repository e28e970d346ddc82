package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the generated parquet fixtures (TESTDATA.md), and
  * the write/read pair for the scratch artifacts the queries persist
  * between stages (index stores, sketch stores, snapshot generations).
  *
  * Artifact lifecycle: every artifact lives under a scratch root from
  * [[store]], built at most once per (prefix, fixture dir) per JVM and
  * deleted with its root when the JVM exits. A persisted index's later
  * generations are [[Generation]] verbs over its gen0: each holds only
  * the artifacts it changed, so nothing unchanged (the frozen ANN
  * quantizers, say) is ever copied into a new root.
  *
  * One accessor per table; every query takes `sfDir` (the per-scale-factor
  * directory) so the same plan runs at sf0.001 (smoke), sf0.01 (oracle) and
  * sf0.1 (bench) — and, unchanged, against a 100 TB warehouse path.
  *
  * Scans stay fully declarative (`spark.read.parquet`) so Catalyst performs
  * column pruning and predicate pushdown into the parquet reader; we never
  * cache here (caller decides) and never collect.
  */
object Tables {
  /** Per-path schema cache (r14 optimization, guide §1.2 "don't compute
    * things you throw away"): a bare `spark.read.parquet(path)` infers the
    * schema from parquet footers on EVERY call — one Spark job
    * (`mergeSchemasInParallel`) a catalog-backed deployment never repays
    * per query. [[read]] replays a cached schema via `.schema(...)`, which
    * skips footer inference entirely. This caches METADATA only — every
    * query still scans the parquet data itself; results are
    * bit-identical.
    *
    * Two writers fill it: a miss in [[read]] infers once (fixtures, and
    * paths another process wrote), and [[write]] records the schema of
    * the frame it just wrote, so an artifact the library persists is never
    * inferred at all — the format is known, like the reference's fixed
    * intermediate files. Replay is exact: Spark makes a file schema
    * nullable on read whether it was given or inferred (TablesSpec pins
    * `==`).
    *
    * One entry per path, valued (root mtime, schema): an in-JVM rewrite of
    * the same path with a different schema (fixture-mirror rebuilds, bench
    * tools regenerating a parquet dir) must not be served the stale schema,
    * and a path rewritten on every call (q_merge_compact's snapshots) must
    * not grow the map. Directory mtime changes on any file add/replace
    * inside it; a differing mtime re-infers and replaces the entry. The
    * stat is a single driver-side syscall per read, ~10³× cheaper than the
    * footer inference it guards. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  private def mtime(path: String): Long = new java.io.File(path).lastModified()

  /** Parquet at `path` with its cached schema (see [[schemaCache]]). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = mtime(path)
    val (_, sch) = schemaCache.compute(path, (p, hit) =>
      if (hit != null && hit._1 == m) hit else (m, spark.read.parquet(p).schema))
    spark.read.schema(sch).parquet(path)
  }

  /** Writes `df` to `path` as unpartitioned parquet (overwrite) and
    * records its schema, so a later [[read]] starts no inference job. */
  def write(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    schemaCache.put(path, (mtime(path), df.schema))
  }

  /** One scratch root and whether its build has completed. `ensure` is
    * synchronized per root: concurrent callers wait for one build, a
    * build may call [[store]] for another key (the erase/add/compact
    * generations build on their gen0), and a build that throws leaves
    * the root unbuilt, so the next call rebuilds into the same root. */
  private final class Scratch(val root: String) {
    private var built = false
    def ensure(build: String => Unit): String = synchronized {
      if (!built) { build(root); built = true }
      root
    }
  }

  private val scratch =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Scratch]()

  /** The scratch root for (`prefix`, fixture `dir`), after `build` has
    * filled it once in this JVM; later calls only return the root. The
    * root is `<tmpdir>/graft_<prefix>_<sanitized dir>-<uuid>`: the full
    * dir string keys the memo, so distinct fixture paths (a symlink alias
    * included) never share a root, and the random suffix keeps
    * concurrent JVMs out of each other's overwrites. Spark's shutdown
    * hook removes the root at JVM exit. A query that rewrites its
    * artifacts on every call passes a no-op build and takes the root. */
  def store(prefix: String, dir: String)(build: String => Unit): String =
    scratch.computeIfAbsent((prefix, dir), { key =>
      val safe = key._2.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(80)
      new Scratch(org.apache.spark.sql.graftbridge.Bridge
        .tempDirDeletedAtExit(s"graft_${key._1}_$safe"))
    }).ensure(build)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Legacy fixture support: older driver generations wrote events.ts as
    * TIMESTAMP(NANOS) parquet, which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless this flag maps it to raw nano longs.
    * Hosts still set it ONCE at session build (Verify/Bench/SparkSpec all
    * do) so both fixture generations load — a loader must not mutate a
    * shared session's conf on read. */
  val EventsNanosConf: (String, String) = ("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** events.ts normalized to a session-zone TimestampType regardless of the
    * fixture generation it was written by:
    *   - TIMESTAMP(NANOS) parquet (pre-r8 driver) reads as raw nano longs
    *     under [[EventsNanosConf]] → integer `div 1000` to micros (ns/1000
    *     via double would lose precision above 2^53);
    *   - timestamp[us] isAdjustedToUTC=false parquet (r8+ driver) reads as
    *     TIMESTAMP_NTZ → cast to TimestampType. Sessions pin
    *     spark.sql.session.timeZone=UTC, so the cast's epoch micros equal
    *     DuckDB's naive `epoch_us(ts)` — oracle parity is exact.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df =
      try load(s, d, "events")
      catch {
        case e: Exception if e.getMessage != null
            && e.getMessage.contains("PARQUET_TYPE_ILLEGAL") =>
          // a nanos-generation fixture read without the session flag —
          // rethrow with the curated pointer instead of Spark's raw error
          throw new IllegalStateException(
            s"events.parquet at $d has a TIMESTAMP(NANOS) physical type; " +
              s"set ${EventsNanosConf._1}=${EventsNanosConf._2} at session " +
              "build (Tables.EventsNanosConf) — inspect the fixture with " +
              "pyarrow pq.read_schema", e)
      }
    df.schema("ts").dataType match {
      case LongType        => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType   => df // already session-zone micros: nothing to do
      case other           => throw new IllegalStateException(
        s"events.ts read as unexpected type ${other.simpleString}; known " +
          s"fixture generations are TIMESTAMP(NANOS)->LongType (needs " +
          s"${EventsNanosConf._1}) and timestamp[us] NTZ. A new driver " +
          "generation changed the physical type — check pq.read_schema " +
          "and extend this normalizer deliberately rather than letting " +
          "the raw type flow downstream.")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** All table names, for catalog-style registration (`registerAll`). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every fixture as a temp view so `spark.sql(...)` works. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
