package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent correctness oracle. The final last-writer-wins state is
  * computed from the generated events alone — no `CdcApplier` — by a
  * window over `(repo, path)` ordered by `(seq, commit)`: the foreign
  * source slice is removed first, and keys whose last event is a DELETE
  * are dropped. Lake and oracle are compared by row count and by the
  * multiset of per-row `sha2` hashes. */
object Oracle {

  /** Live rows of the LWW state over `events`. */
  def state(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("repo"), col("path"))
      .orderBy(col("seq").desc, col("commit").desc)
    events.filter(col("source") === Gen.Source)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "DELETE")
      .drop("_rn")
  }

  /** Value columns compared per row; `stars` only where the workload
    * promotes it. */
  def valueCols(withStars: Boolean): Seq[String] =
    Seq("repo", "path", "commit", "lang", "content", "seq") ++
      (if (withStars) Seq("stars") else Nil)

  private def rowHash(cols: Seq[String]): Column =
    sha2(concat_ws("\u0001", cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*), 256)

  /** Bytes of live user data in a row: UTF-8 lengths of the string
    * columns plus 8 per non-null long. */
  private def rowBytes(withStars: Boolean): Column =
    Seq("repo", "path", "commit", "lang", "content")
      .map(c => coalesce(octet_length(col(c)), lit(0)).cast("long"))
      .reduce(_ + _) + lit(8L) +
      (if (withStars) when(col("stars").isNotNull, lit(8L)).otherwise(lit(0L)) else lit(0L))

  final case class Result(lakeRows: Long, oracleRows: Long, mismatched: Long, liveBytes: Long) {
    def error: Option[String] =
      if (lakeRows != oracleRows)
        Some(s"OracleMismatch: lake has $lakeRows rows, oracle $oracleRows")
      else if (mismatched > 0)
        Some(s"OracleMismatch: $mismatched row hashes differ between lake and oracle")
      else None
  }

  /** Compare the lake's live rows with the oracle state, in one job. */
  def compare(lake: DataFrame, oracle: DataFrame, withStars: Boolean): Result = {
    val cols = valueCols(withStars)
    val a = lake.groupBy(rowHash(cols).as("h")).agg(count(lit(1)).as("na"))
    val b = oracle.groupBy(rowHash(cols).as("h"))
      .agg(count(lit(1)).as("nb"), sum(rowBytes(withStars)).as("bytes"))
    val r: Row = a.join(b, Seq("h"), "full_outer").agg(
      coalesce(sum(col("na")), lit(0L)), coalesce(sum(col("nb")), lit(0L)),
      sum(when(col("na") <=> col("nb"), 0L).otherwise(1L)),
      coalesce(sum(col("bytes")), lit(0L))).head()
    Result(r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L),
      r.getLong(3))
  }

  /** Multiset comparison of small collected row sets (lookups, polls). */
  def sameRows(got: Seq[Row], want: Seq[Row], cols: Seq[String]): Boolean = {
    def key(r: Row) = cols.map(c => String.valueOf(r.getAs[Any](c))).mkString("\u0001")
    got.map(key).sorted == want.map(key).sorted
  }
}
