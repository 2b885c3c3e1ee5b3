package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Daily OHLCV rollup.
  *
  * Reference semantics: spark_batch_processor.py:89-101 computes
  * first(open)/max(high)/min(low)/sum(volume)/last(close) over
  * `Window.partitionBy(symbol, date)` — an *unordered* partition
  * window, so first/last are file-order artifacts (it happens to be
  * degenerate there because dedup guarantees one row per key). This
  * engine implements the intended rollup deterministically: open/close
  * are the value at the min/max of an explicit event ordering.
  *
  * Physical shape: one shuffle on the grouping keys. The window
  * (row_number) form sorts within partitions; the groupBy collapses in
  * the same stage. Deterministic and 100 TB-safe (no skew beyond the
  * natural key distribution; salt upstream if one key dominates).
  */
object Ohlcv {

  /** Roll `df` up to one row per `keys`: open/high/low/close over
    * `valueCol`, ordered by `order` (must be a total order per key for
    * determinism — e.g. Seq(col("ts"), col("event_id"))), plus
    * sum(volume)=`volSum` when provided and an event count.
    *
    * Output columns: keys ++ (open, high, low, close, volume?, n).
    */
  def rollup(
      df: DataFrame,
      keys: Seq[Column],
      keyNames: Seq[String],
      valueCol: Column,
      order: Seq[Column],
      volCol: Option[Column] = None
  ): DataFrame = {
    // open/close = value at the min/max of the (ascending) order key —
    // min_by/max_by carry the argmin/argmax through the SAME hash
    // aggregate as high/low/volume: one shuffle, NO window sort. The
    // previous formulation paid two full per-key sorts (asc + desc
    // row_number) before the groupBy; at 100 TB those sorts dominate.
    val ordKey = orderKey(order)
    val keyed = df.withColumns(keyNames.zip(keys).toMap)
    val aggs = Seq(
      min_by(valueCol, ordKey).as("open"),
      max(valueCol).as("high"),
      min(valueCol).as("low"),
      max_by(valueCol, ordKey).as("close")
    ) ++ volCol.map(v => sum(v).as("volume")).toSeq :+ count(lit(1)).as("n")
    keyed.groupBy(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The STRUCT ordering key that min_by/max_by consume for `order`.
    * A struct compares field by field, each ascending with nulls first
    * — the order an ascending `row_number` window sorts by. It cannot
    * express a SortOrder like col("ts").desc (legal in a window), which
    * would silently swap first and last, so reject one loudly. */
  private[graft] def orderKey(order: Seq[Column]): Column = {
    order.foreach { c =>
      require(!org.apache.spark.sql.GraftColumnShim.isSortOrder(c),
        s"Ohlcv order columns must be plain ascending columns, got sort expression: $c")
    }
    struct(order: _*)
  }

  /** Strict-parity mode: the reference's unordered-window
    * first/last (nondeterministic when >1 row per key — documented
    * artifact, SURVEY.md §2 A5). */
  def rollupParity(df: DataFrame, keyNames: Seq[String], valueCol: Column, volCol: Option[Column]): DataFrame = {
    val w = Window.partitionBy(keyNames.map(col): _*)
    val base = df
      .withColumn("daily_open", first(valueCol).over(w))
      .withColumn("daily_high", max(valueCol).over(w))
      .withColumn("daily_low", min(valueCol).over(w))
      .withColumn("daily_close", last(valueCol).over(w))
    val withVol = volCol.fold(base)(v => base.withColumn("daily_volume", sum(v).over(w)))
    withVol.dropDuplicates(keyNames)
  }

  /** daily_change = (close - open) / open * 100
    * (spark_batch_processor.py:101; null on zero open with ANSI off). */
  def dailyChange(openCol: Column, closeCol: Column): Column =
    (closeCol - openCol) / openCol * lit(100)
}
