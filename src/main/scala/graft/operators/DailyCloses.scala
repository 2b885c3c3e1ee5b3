package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic daily close per (instrument, day) as MERGEABLE
  * state — the shared base of the day-grid market statistics
  * (MarketQueries.dailyCloses: q159/q170/q175/q176/q179/q192 returns,
  * q198 pairs screen, q199 risk summary) and their streaming serves
  * (StreamPipeline.closesMaintain / riskServe / pairsServe).
  *
  * The close is the arg-max of the micro-log2 level over the
  * (ts, event_id) tick order — an associative, commutative,
  * idempotent reduction (keep the later tick), so:
  *
  *  - batch needs NO window sort: ONE max_by partial aggregation
  *    replaces the previous row_number() window + arg-max pass (one
  *    exchange+sort removed from every day-grid consumer);
  *  - streaming state merges under ANY arrival order — late, split,
  *    or replayed ticks converge to the same store (the q184/q189
  *    order-insensitivity class), one store row per (instrument,
  *    day) forever.
  *
  * The row that wins is identical to the row_number formulation's
  * (same (ts, event_id) total order, pairs unique by the feed
  * contract), so the DuckDB oracles' arg_max(lv, rn) replay is
  * unchanged.
  */
object DailyCloses {

  /** Micro-log2 fixed point (MarketQueries.qlog2's formula): the
    * price's log2 quantized ONCE to integer micro-units, so every
    * downstream difference/sum is exact integer arithmetic. */
  def qlog2(x: Column): Column = floor(log2(x) * lit(1e6) + lit(0.5)).cast("long")

  /** Per-batch / whole-feed state: one row per (event_type, day)
    * carrying the winning tick's (ts, event_id) and its level. */
  def state(events: DataFrame): DataFrame =
    events
      .filter(col("value") > 0)
      .withColumn("day", to_date(col("ts")))
      .withColumn("lv", qlog2(col("value")))
      .groupBy(col("event_type"), col("day"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("lv")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("event_type"), col("day"),
        col("last.ts").as("ts"), col("last.event_id").as("event_id"),
        col("last.lv").as("close_lv"))

  /** Order-insensitive merge of two state frames: the later tick wins
    * per (event_type, day). Replaying a batch is a no-op (idempotent
    * max). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("event_type"), col("day"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("close_lv")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("event_type"), col("day"),
        col("last.ts").as("ts"), col("last.event_id").as("event_id"),
        col("last.close_lv").as("close_lv"))

  /** Fold raw ticks into a state frame: `merge(store, ticks in state
    * shape)`. Each tick is projected to the row `state` would emit if
    * it won its (event_type, day) — `value > 0`, `day = to_date(ts)`,
    * `close_lv = qlog2(value)` — so the fold is ONE `max_by` aggregate
    * over store ∪ ticks: one exchange, where `merge(store,
    * state(ticks))` pays two. Equal to `state(a ∪ b)` for `store =
    * state(a)` by associativity; a redelivered tick ties with itself. */
  def fold(store: DataFrame, events: DataFrame): DataFrame =
    merge(store, events
      .filter(col("value") > 0)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("ts"), col("event_id"),
        qlog2(col("value")).as("close_lv")))

  /** The (event_type, day, close_lv) day grid a consumer wants. */
  def closes(state: DataFrame): DataFrame =
    state.select(col("event_type"), col("day"), col("close_lv"))
}
