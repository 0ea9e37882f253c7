package graft.ml

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.VocabCode

/** O13 — a model's categorical vocabularies: for each string feature,
  * its non-null distinct training values sorted in Spark's string
  * order (UTF8String byte order, not Java's UTF-16 `String` order).
  * A value's code is its rank; null and unseen values code to -1 —
  * the codes of [[graft.operators.Relational.labelEncode]] (pandas
  * `astype("category")` codes, utils.py:42-47), bit for bit.
  *
  * Driver-side model state bounded by the category count (M5's `id`:
  * 30,490 values, about 1 MB), the same class as
  * `HistTree.Bins.catMaps`; `labelEncode` stays the operator for
  * unbounded columns in queries. Fit is ONE distributed pass over all
  * columns; [[encode]] is a narrow per-column projection with no join
  * and no broadcast exchange, so every action replaying an encoded
  * plan pays nothing for the vocabularies but the lookup.
  */
final case class LabelVocab(columns: Seq[(String, IndexedSeq[String])]) {

  /** Code arity per column, INCLUDING the -1 unseen slot (the
    * `catArity` contract of `TweedieGbt.assemble`). */
  def arity: Map[String, Int] =
    columns.map { case (c, vs) => c -> (vs.size + 1) }.toMap

  /** Replace every vocabulary column of `df` by its long code. */
  def encode(df: DataFrame): DataFrame =
    columns.foldLeft(df) { case (acc, (c, vs)) =>
      val sorted = vs.map(UTF8String.fromString).toArray
      acc.withColumn(c, ColumnBridge.column(
        VocabCode(ColumnBridge.expression(col(c)), sorted)))
    }

  /** One JSON object `{column: [values in code order], ...}`, written
    * to a sibling temp file and moved into place atomically, so the
    * file exists only once complete (a DAG target can rely on it). */
  def save(path: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val json = JObject(columns.map { case (c, vs) =>
      c -> JArray(vs.map(JString(_)).toList) }.toList)
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, JsonMethods.compact(JsonMethods.render(json)).getBytes(UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object LabelVocab {

  /** Fit every column's vocabulary in one pass: stack the string
    * columns to (column index, value) rows, drop nulls, `distinct`,
    * collect; each column's values are then sorted on the driver with
    * Spark's own string comparator. The job count is independent of
    * the column count. */
  def fit(df: DataFrame, cols: Seq[String]): LabelVocab = {
    val pairs =
      if (cols.isEmpty) Array.empty[(Int, String)]
      else df.select(inline(array(cols.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("i"), col(c).as("v")) }: _*)))
        .where(col("v").isNotNull)
        .distinct()
        .collect()
        .map(r => r.getInt(0) -> r.getString(1))
    val byCol = pairs.groupMap(_._1)(_._2)
    LabelVocab(cols.indices.map { i =>
      val vs = byCol.getOrElse(i, Array.empty[String]).map(UTF8String.fromString)
      cols(i) -> vs.sortWith(_.binaryCompare(_) < 0).map(_.toString).toIndexedSeq
    })
  }

  def load(path: String): LabelVocab = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fields = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8)) match {
      case JObject(fs) => fs
      case other => throw new IllegalArgumentException(
        s"vocabulary file $path is not a JSON object: ${other.getClass.getSimpleName}")
    }
    LabelVocab(fields.map {
      case (c, JArray(vs)) => c -> vs.map {
        case JString(v) => v
        case v => throw new IllegalArgumentException(s"non-string value $v in $path:$c")
      }.toIndexedSeq
      case (c, v) => throw new IllegalArgumentException(s"column $c in $path is not an array: $v")
    })
  }
}
