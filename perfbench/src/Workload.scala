package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.lakehouse.{Catalog, LakehouseProps, Versioned}

/** What every workload gets: the session, its seed, and a private work
  * directory that holds its raw inputs and its lakehouse. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path) {
  val raw: Path = work.resolve("raw")
  val lhParent: Path = work.resolve("lh")
  private var lhProps: LakehouseProps = null
  def lh: LakehouseProps = lhProps

  /** Wipe the lakehouse and register a fresh one under the work dir. */
  def freshLakehouse(): LakehouseProps = {
    Dirs.wipe(lhParent)
    lhProps = Catalog.registerLocalWorkspace(lhParent.toString, "perfbench", "lakehouse")
      .lakehouses.head
    lhProps
  }

  def rawPath(name: String): String = raw.resolve(name + ".parquet").toString
  def readRaw(name: String): DataFrame = spark.read.parquet(rawPath(name))
  def writeRaw(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(rawPath(name))
  def rawBytes: Long = Dirs.bytesUnder(raw)
}

trait Workload extends OpSource {
  def ctx: Ctx

  /** Generate the seeded raw inputs (not part of set-up time). Every batch
    * a workload feeds graft is written under `ctx.raw` first, so its bytes
    * there are the user bytes. */
  def prepareInputs(): Unit

  /** One set-up repetition: a fresh lakehouse with the fixture commits. */
  def setup(): Unit

  /** Checks that need the whole run (None when they pass). */
  def finalCheck(): Option[String] = None
}

/** Read-only views of a lakehouse's committed state for the per-layer
  * metrics; never called inside a timed window. */
object LakehouseState {
  private def liveEntries(lh: LakehouseProps, table: String): Seq[Versioned.FileEntry] = {
    val dir = Catalog.tablePath(lh, table)
    Versioned.latestVersion(dir).flatMap(Versioned.readManifest(dir, _)).toSeq.flatMap(_.entries)
  }

  def liveFiles(lh: LakehouseProps, table: String): Long = liveEntries(lh, table).size

  /** Absolute paths and sizes of every live data file in the lakehouse. */
  def liveDataFiles(lh: LakehouseProps): Map[String, Long] =
    Catalog.getTables(lh).flatMap { t =>
      val dir = Paths.get(Catalog.tablePath(lh, t))
      liveEntries(lh, t).map { e =>
        val p = dir.resolve(e.path)
        p.toString -> (if (Files.exists(p)) Files.size(p) else 0L)
      }
    }.toMap

  /** Versions, live files and manifest bytes summed over every table. */
  def endState(lh: LakehouseProps): Map[String, Any] = {
    val tables = Catalog.getTables(lh)
    def manifestBytes(t: String): Long = {
      val s = Files.list(Paths.get(Catalog.tablePath(lh, t)))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(Versioned.ManifestPrefix)).map(Files.size).sum
      finally s.close()
    }
    Map("versions_end" -> tables.map(t => Versioned.committedVersions(Catalog.tablePath(lh, t)).size).sum,
      "files_live_end" -> tables.map(liveFiles(lh, _)).sum,
      "manifest_bytes_end" -> tables.map(manifestBytes).sum)
  }
}

/** Consumes results for the ops, inside the timed window, under a "Spark"
  * span: the jobs that run a lazily built graft plan belong to the Spark
  * runtime, not to the module call that returned the plan. While an op is
  * traced, its executed plans and returned row counts are kept until
  * [[takeStats]] reads the scan counters outside the timed window. */
object Consume {
  private val plans = ArrayBuffer.empty[SparkPlan]
  private var rowsOut = 0L

  def digest(df: DataFrame): Digest = digest(df, df.columns.toSeq)

  def digest(df: DataFrame, cols: Seq[String]): Digest = Trace.layer("Spark") {
    val agg = Digest.aggregate(df, cols)
    val r = agg.collect()(0)
    keep(agg, r.getLong(0))
    Digest(r.getLong(0), r.getLong(1))
  }

  def digestByGroup(df: DataFrame, groupCol: String, cols: Seq[String]): Map[String, Digest] =
    Trace.layer("Spark") {
      val agg = Digest.byGroupAggregate(df, groupCol, cols)
      val rs = agg.collect()
      keep(agg, rs.map(_.getLong(1)).sum)
      rs.map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2))).toMap
    }

  def collect(df: DataFrame): Array[Row] = Trace.layer("Spark") {
    val r = df.collect()
    keep(df, r.length)
    r
  }

  private def keep(df: DataFrame, rows: Long): Unit =
    if (Trace.active != null && Trace.active.inOp) {
      plans += df.queryExecution.executedPlan
      rowsOut += rows
    }

  /** Files and rows read by the kept plans' parquet scans of lakehouse
    * tables, the live files of those tables, and the rows handed back;
    * then forgets the plans. */
  def takeStats(lh: LakehouseProps): Map[String, Double] = {
    val tablesDir = lh.tablesPath.toUri.getPath
    val scanned = plans.toSeq.flatMap(scans).flatMap { s =>
      val roots = s.relation.location.rootPaths.map(_.toUri.getPath)
      roots.collectFirst { case r if r.startsWith(tablesDir) =>
        r.stripPrefix(tablesDir).stripPrefix("/").takeWhile(_ != '/')
      }.map(t => (t, s.metrics.get("numFiles").map(_.value).getOrElse(0L),
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)))
    }
    val out = Map("files_read" -> scanned.map(_._2).sum.toDouble,
      "files_live" -> scanned.map(s => LakehouseState.liveFiles(lh, s._1)).sum.toDouble,
      "rows_read" -> scanned.map(_._3).sum.toDouble,
      "rows_returned" -> rowsOut.toDouble)
    plans.clear()
    rowsOut = 0L
    out
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil // its scan is counted where it first ran
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }
}
