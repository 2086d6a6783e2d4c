package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One committed snapshot: `tables` maps table -> (bucket -> data dir) for
  * bucketed state tables (-1 = unbucketed blob); `appended` lists every data
  * dir of the append-only tables across snapshots. */
final case class Snapshot(
    version: Long,
    cycle: Long,
    tables: Map[String, Map[Int, String]],
    appended: Map[String, List[String]],
    metrics: Map[String, Double])

/**
 * The engine's durable-table contract — the seam for swapping the bundled
 * [[SnapTable]] manifest layer for a real catalog. An Iceberg-backed
 * implementation maps `readTable` to `spark.read.format("iceberg")`,
 * `commit` to a MERGE INTO + snapshot commit, `readTableBuckets` to a
 * bucket-transform partition predicate, and `readSnapshot` to time travel
 * (`VERSION AS OF`); [[graft.driver.CrawlEngine]] only ever sees DataFrames
 * and [[Snapshot]] descriptors, so the swap is constructor injection.
 */
trait SnapshotStore {
  def latestVersion: Option[Long]
  def readSnapshot(version: Long): Snapshot
  def latest: Option[Snapshot] = latestVersion.map(readSnapshot)
  def readTable(snap: Snapshot, table: String): Option[DataFrame]
  def readTableBuckets(snap: Snapshot, table: String, buckets: Set[Int]): Option[DataFrame]
  def readAppended(snap: Snapshot, table: String): Option[DataFrame]
  def commit(
      cycle: Long,
      fullTables: Map[String, DataFrame] = Map.empty,
      cowTables: Map[String, (DataFrame, String, Set[Int])] = Map.empty,
      appends: Map[String, DataFrame] = Map.empty,
      metrics: Map[String, Double] = Map.empty): Snapshot
}

/**
 * Minimal Iceberg-style snapshot-table layer (SURVEY §7.2).
 *
 * North_rule asks for Iceberg tables; the sandbox has no Iceberg jar
 * (offline coursier), so this layer supplies Iceberg's load-bearing
 * semantics with ~200 LoC:
 *
 *  - data files are immutable Parquet directories;
 *  - each commit writes a JSON manifest `snapshots/v{N}.json` (snapshot id,
 *    parent id, per-table file lists with partition-bucket tags + row counts,
 *    per-cycle metrics) and atomically moves a `LATEST` pointer;
 *  - a multi-table commit (frontier + robots + output + lineage) is ONE
 *    snapshot — a half-written cycle is invisible (resume reads LATEST);
 *  - per-bucket copy-on-write for the frontier: a commit rewrites only the
 *    hostBucket partitions touched this cycle and carries forward the
 *    untouched buckets' directories from the parent snapshot — at 10^10-row
 *    frontier scale a cycle touching k of P buckets rewrites k/P of the data;
 *  - time travel: `open(version)` reads any retained snapshot.
 *
 * Swap for real Iceberg: replace `readTable`/`commit` with
 * `spark.read.format("iceberg")` / MERGE INTO — the engine only sees
 * DataFrames.
 */
/** Shared manifest I/O: JSON snapshot descriptors + an atomically-moved
  * LATEST pointer. Both the bundled [[SnapTable]] (parquet-dir data files)
  * and [[CatalogSnapshotStore]] (Spark catalog tables) commit through this
  * layer — it is the analogue of Iceberg's metadata-JSON + pointer swap. */
private[plans] object Manifests {
  def latestVersion(rootPath: Path): Option[Long] = {
    val p = rootPath.resolve("LATEST")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p)).trim.toLong) else None
  }

  def read(rootPath: Path, version: Long): Snapshot = {
    implicit val fmt: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(
      Files.readAllBytes(rootPath.resolve(s"snapshots/v$version.json")), UTF_8))
    Snapshot(
      (js \ "version").extract[Long],
      (js \ "cycle").extract[Long],
      (js \ "tables").extract[Map[String, Map[String, String]]]
        .map { case (t, bs) => t -> bs.map { case (b, p) => b.toInt -> p } },
      (js \ "appended").extract[Map[String, List[String]]],
      (js \ "metrics").extract[Map[String, Double]])
  }

  def write(rootPath: Path, s: Snapshot): Unit = {
    // NaN and ±Inf have no JSON form: such a metric is written as 0
    def metric(v: Double): JValue = JDouble(if (v.isNaN || v.isInfinite) 0 else v)
    val json = JObject(
      "version" -> JLong(s.version),
      "cycle" -> JLong(s.cycle),
      "parent" -> JLong(s.version - 1),
      "tables" -> JObject(s.tables.toList.map { case (t, bs) =>
        t -> JObject(bs.toList.sortBy(_._1).map { case (b, p) => b.toString -> JString(p) })
      }),
      "appended" -> JObject(s.appended.toList.map { case (t, dirs) =>
        t -> JArray(dirs.map(JString(_)))
      }),
      "metrics" -> JObject(s.metrics.toList.map { case (k, v) => k -> metric(v) }))
    val mf = rootPath.resolve(s"snapshots/v${s.version}.json")
    Files.write(mf, JsonMethods.compact(json).getBytes(UTF_8))
    val tmp = rootPath.resolve("LATEST.tmp")
    Files.write(tmp, s.version.toString.getBytes)
    Files.move(tmp, rootPath.resolve("LATEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

object SnapTable {
  /** Spark expands glob patterns in the paths it reads parquet from, so a
    * dir whose path holds one of these characters is not read back. */
  def requireGlobFree(path: String, what: String): Unit =
    require(!path.exists("\\[]{}*?".contains(_)), s"$what '$path' holds one of " +
      "the glob characters \\ [ ] { } * ?, which Spark's parquet reader expands")
}

final class SnapTable(spark: SparkSession, root: String) extends SnapshotStore {
  SnapTable.requireGlobFree(root, "snapshot root")
  private val rootPath: Path = Paths.get(root)
  Files.createDirectories(rootPath.resolve("snapshots"))

  // Per-table schema cache: table schemas are fixed for the life of a store,
  // so after the first read every per-cycle `spark.read.parquet` skips
  // driver-side schema inference (footer reads) — measurable fixed cost at
  // micro-cycle cadence. (An Iceberg catalog gives this for free.)
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private def readParquet(table: String, dirs: Seq[String]): DataFrame = {
    val cached = schemaCache.get(table)
    val df = if (cached != null) spark.read.schema(cached).parquet(dirs: _*)
             else spark.read.parquet(dirs: _*)
    if (cached == null) schemaCache.put(table, df.schema)
    df
  }

  /** table -> (bucket -> data dir) for bucketed tables; -1 = unbucketed blob */
  type TableState = Map[String, Map[Int, String]]

  def latestVersion: Option[Long] = Manifests.latestVersion(rootPath)

  def readSnapshot(version: Long): Snapshot = Manifests.read(rootPath, version)

  /** Read a bucketed state table at a snapshot: union of all bucket dirs. */
  def readTable(snap: Snapshot, table: String): Option[DataFrame] =
    snap.tables.get(table).filter(_.nonEmpty).map { buckets =>
      readParquet(table, buckets.values.toSeq.sorted)
    }

  /**
   * Read ONLY the given buckets of a bucketed table — partition pruning at
   * the manifest level: the reader never lists, opens, or even sees the
   * untouched buckets' files. This is what makes the engine's exact
   * dedup-confirm join O(candidate buckets), not O(frontier), per cycle.
   * Returns None when no requested bucket holds data.
   */
  def readTableBuckets(snap: Snapshot, table: String, buckets: Set[Int]): Option[DataFrame] =
    snap.tables.get(table)
      .map(_.filter { case (b, _) => buckets.contains(b) })
      .filter(_.nonEmpty)
      .map(bs => readParquet(table, bs.values.toSeq.sorted))

  /** Read an append-only table (all appended dirs across snapshots). */
  def readAppended(snap: Snapshot, table: String): Option[DataFrame] =
    snap.appended.get(table).filter(_.nonEmpty)
      .map(dirs => readParquet(s"appended:$table", dirs.sorted))

  /**
   * Commit one micro-cycle atomically.
   *
   * @param cycle        logical-clock cycle just completed
   * @param fullTables   tables rewritten in full this cycle (small: robots)
   * @param cowTables    bucketed tables with copy-on-write: (df, bucketCol,
   *                     changedBuckets) — only changed buckets are written;
   *                     unchanged bucket dirs carry over from the parent
   * @param appends      append-only tables (output, lineage): appended this cycle
   * @param metrics      scalar metrics recorded in the manifest
   */
  def commit(
      cycle: Long,
      fullTables: Map[String, DataFrame] = Map.empty,
      cowTables: Map[String, (DataFrame, String, Set[Int])] = Map.empty,
      appends: Map[String, DataFrame] = Map.empty,
      metrics: Map[String, Double] = Map.empty): Snapshot = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val parent = latest
    val version = parent.map(_.version + 1).getOrElse(0L)

    var tables: TableState = parent.map(_.tables).getOrElse(Map.empty)
    var appended: Map[String, List[String]] = parent.map(_.appended).getOrElse(Map.empty)

    // all data files of the snapshot are independent — launch every table's
    // write as a concurrent Spark job and wait; the manifest (the only
    // atomicity point) is written strictly after all data lands
    val fullJobs = fullTables.toSeq.map { case (name, df) =>
      val dir = s"$root/data/$name/v$version"
      (Future { df.write.mode("overwrite").parquet(dir) },
        () => { tables += name -> Map(-1 -> dir) })
    }

    val cowJobs = cowTables.toSeq.collect {
      case (name, (df, bucketCol, changed)) if changed.nonEmpty =>
        // write only the changed buckets — one sub-dir per bucket via
        // partitionBy (a single Spark job); carry the rest forward.
        // NOTE: partitionBy drops the partition column from the data files;
        // readTable recovers it from the dir name via basePath-less read, so
        // the engine re-derives `bucket` from `host` after load (cheap,
        // deterministic) — see CrawlEngine.loadFrontier.
        val cycleDir = s"$root/data/$name/v$version"
        // co-locate each bucket in one task before partitionBy: without the
        // repartition every task writes a file per bucket it holds
        // (tasks x buckets tiny files — the classic partitioned-write
        // explosion); with it each bucket lands as one file
        (Future {
          // explicit partition count: `repartition(col)` alone lets AQE
          // coalesce the exchange down to a handful of partitions, which
          // serializes the parquet write; pinning to the changed-bucket
          // count keeps one write task per bucket (still one file/bucket)
          df.filter(df(bucketCol).isin(changed.toSeq: _*))
            .repartition(changed.size, df(bucketCol))
            .write.mode("overwrite").partitionBy(bucketCol).parquet(cycleDir)
        }, () => {
          val prev = tables.getOrElse(name, Map.empty)
          val written: Map[Int, String] = changed.iterator.map { b =>
            b -> s"$cycleDir/$bucketCol=$b"
          }.filter { case (_, p) => Files.exists(Paths.get(p)) }.toMap
          val carried = prev.filter { case (b, _) => !changed.contains(b) }
          tables += name -> (carried ++ written)
        })
    }

    val appendJobs = appends.toSeq.map { case (name, df) =>
      val dir = s"$root/data/$name/v$version"
      (Future { df.write.mode("overwrite").parquet(dir) },
        () => { appended += name -> (appended.getOrElse(name, Nil) :+ dir) })
    }

    val jobs = fullJobs ++ cowJobs ++ appendJobs
    try jobs.foreach { case (job, apply) =>
      // bounded wait: a hung write must fail the commit, not block forever
      Await.result(job, Duration(2, "hours")); apply()
    } catch { case e: Throwable =>
      // a failed commit must not leak orphan v$version data dirs — nothing
      // references them (the manifest is written last), so delete before
      // rethrowing: half-written cycles stay invisible AND reclaimable.
      // Sibling writes may still be running; let every one finish first, or
      // a late one recreates its dir after the cleanup
      jobs.foreach { case (job, _) => scala.util.Try(Await.ready(job, Duration(2, "hours"))) }
      (fullTables.keys ++ cowTables.keys ++ appends.keys).foreach { name =>
        deleteRec(new java.io.File(s"$root/data/$name/v$version"))
      }
      throw e
    }

    val snap = Snapshot(version, cycle, tables, appended, metrics)
    Manifests.write(rootPath, snap)
    snap
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }
}
