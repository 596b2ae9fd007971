package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** An order-independent fingerprint of a result: its row count and the sum
  * of every row's xxhash64 over all its columns, folded into [0, P). Sums
  * add, so the fingerprint of a table after inserts and deletes is the old
  * one plus the inserted and minus the deleted rows'. */
final case class Digest(rows: Long, hashSum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hashSum + o.hashSum)
  def -(o: Digest): Digest = Digest(rows - o.rows, hashSum - o.hashSum)
}

object Digest {
  val P = 1000000007L
  val Zero = Digest(0, 0)

  private def rowHash(df: DataFrame, cols: Seq[String]): Column =
    pmod(xxhash64(cols.map(df.col): _*), lit(P))

  /** One aggregate over `df` that reads every column in `cols`. */
  def aggregate(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(rowHash(df, cols)), lit(0L)))

  def of(df: DataFrame): Digest = of(df, df.columns.toSeq)

  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = aggregate(df, cols).collect()(0)
    Digest(r.getLong(0), r.getLong(1))
  }

  /** Digest per value of `groupCol` (e.g. change type of a change feed). */
  def byGroupAggregate(df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(col(groupCol)).agg(count(lit(1)), sum(rowHash(df, cols)))

  /** Spark's `xxhash64(c1, ..., cn)` over driver-side values (Scala Long,
    * Int, Double, String, timestamps as epoch micros), so a model kept in
    * driver memory fingerprints exactly like the table it mirrors. */
  def rowHashOf(values: Seq[(Any, DataType)]): Long = {
    var h = 42L
    values.foreach { case (v, t) =>
      if (v != null) {
        val internal = v match {
          case s: String => UTF8String.fromString(s)
          case x => x
        }
        h = XxHash64Function.hash(internal, t, h)
      }
    }
    val m = h % P
    if (m < 0) m + P else m
  }
}

object Dirs {
  /** Bytes of every regular file under `root`. */
  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def wipe(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
