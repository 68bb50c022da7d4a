package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive digest of a result: its row count and the sums of
  * the low and high 32-bit halves of each row's 64-bit hash. Two results
  * with the same rows in any order have the same digest. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"rows=$rows lo=$lo hi=$hi"
}

object Digest {
  /** The one-row aggregate whose collect is the op's action: it forces
    * every output column, unlike `count()`, which may prune them. */
  def frame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`")) // maps are not hashable
        case _ => col(s"`${f.name}`")
      }
    }
    // hashing skips nulls, so the null flags go in too: (null, 1) and
    // (1, null) must not collide
    val h = xxhash64((cols ++ cols.map(_.isNull)): _*)
    df.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  def collect(frame: DataFrame): Digest = {
    val r = frame.collect().head
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def of(df: DataFrame): Digest = collect(frame(df))

  /** The same kind of digest over rows already on the driver (a hash of
    * each row's printed form, so it is comparable only with `ofRows`). */
  def ofRows(rows: Seq[Row]): Digest = {
    val hs = rows.map { r =>
      val s = r.toString
      (MurmurHash3.stringHash(s, 1).toLong & 0xFFFFFFFFL,
        MurmurHash3.stringHash(s, 2).toLong & 0xFFFFFFFFL)
    }
    Digest(rows.size.toLong, hs.map(_._1).sum, hs.map(_._2).sum)
  }
}
