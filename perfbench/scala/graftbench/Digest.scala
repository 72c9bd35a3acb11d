package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a DataFrame.
  *
  * Every column of every row enters one 64-bit xxhash; the digest is the
  * row count plus the sums of the hashes' low and high 32-bit halves, so
  * it does not depend on row or partition order and forces every column
  * to be computed (a bare `count()` lets Catalyst prune the projection).
  * Floating-point values are narrowed to float before hashing, so a
  * result that differs only in the last bits of a double, from a
  * different partial-aggregate merge order, still digests the same.
  */
object Digest {
  /** Hash a row's columns; null flags keep (null, x) apart from (x, null). */
  def rowHash(cols: Seq[(Column, DataType)]): Column = {
    val normed = cols.map { case (c, t) => norm(c, t) }
    xxhash64((normed ++ cols.map(_._1.isNull)): _*)
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  private def typed(df: DataFrame, cols: Seq[Column]): Seq[(Column, DataType)] =
    cols.zip(df.select(cols: _*).schema.fields.map(_.dataType))

  /** One-row frame: `n`, then `<group>_lo`/`<group>_hi` for "all" (every
    * column of `df`) and each extra group, then one `sum` per flag.
    */
  def frame(df: DataFrame, groups: Seq[(String, Seq[Column])] = Nil,
      flags: Seq[(String, Column)] = Nil): DataFrame = {
    val all = "all" -> df.columns.toSeq.map(c => df.col(s"`$c`"))
    val hashed = df.select(
      ((all +: groups).map { case (g, cs) => rowHash(typed(df, cs)).as(s"h_$g") } ++
        flags.map { case (f, c) => coalesce(c.cast("long"), lit(1L)).as(s"f_$f") }): _*)
    val sums = (all +: groups).flatMap { case (g, _) =>
      Seq(sum(col(s"h_$g").bitwiseAND(0xFFFFFFFFL)).as(s"${g}_lo"),
        sum(shiftrightunsigned(col(s"h_$g"), 32)).as(s"${g}_hi"))
    } ++ flags.map { case (f, _) => sum(col(s"f_$f")).as(f) }
    hashed.agg(count(lit(1)).as("n"), sums: _*)
  }

  /** Collected `frame` as name → value: "n:lo:hi" per group, counts per flag. */
  def read(frameDf: DataFrame, groups: Seq[String], flags: Seq[String]): Map[String, String] = {
    val r = frameDf.collect().head
    val n = r.getAs[Long]("n")
    def l(name: String): Long = Option(r.getAs[Any](name)).fold(0L)(_.toString.toLong)
    (("all" +: groups).map(g => g -> s"$n:${l(g + "_lo")}:${l(g + "_hi")}") ++
      flags.map(f => f -> l(f).toString)).toMap
  }
}
