package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-11 data-governance + entity-resolution surface — the audits
  * and matchers a warehouse team runs over a 100 TB lake before any
  * model training touches it: referential-integrity orphan audits,
  * k-anonymity re-identification risk, fuzzy entity matching
  * (Jaro-Winkler over blocked candidates), sorted-neighborhood dedup
  * blocking (the classic ER alternative to LSH), and slowly-changing-
  * dimension (type 2) builds from an event change log.
  *
  * Parity rules as everywhere in this battery: counts are exact
  * integers; every similarity threshold tests QUANTIZED integers
  * (floor(x·1e6 + 0.5)) or cross-multiplied integer ratios, never a
  * raw double boundary; JaroWinklerExpr is pinned bitwise to DuckDB's
  * jaro_winkler_similarity (see functions/JaroWinkler.scala).
  */
object GovernQueries {

  // q216 — REFERENTIAL-INTEGRITY ORPHAN AUDIT: for each declared
  // FK→PK relation, how many child rows carry a NULL key, how many
  // point at a parent that does not exist (orphans), and how many
  // DISTINCT orphan keys there are — the first data-contract check
  // any warehouse load runs, and the one that catches a truncated
  // parent load before a silent inner-join row loss does. Exactness:
  // pure integer counts. Scale shape: each child scan collapses to
  // KEY GRAIN in one map-side partial agg before any join (the fact
  // table never meets the parent at row grain), and the parent side
  // is its distinct key set — the join is key-grain ⋈ key-grain,
  // AQE free to broadcast the dim-sized parents (part/supplier/
  // customer); output is 4 rows at any volume.
  private[graft] def riAudit(rel: String, child: DataFrame, fk: String,
                             parent: DataFrame, pk: String): DataFrame = {
    val ck = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("n"))
    val pks = parent.select(col(pk).as("pk_k")).distinct()
    val orphan = col("k").isNotNull && col("pk_k").isNull
    ck.join(pks, col("k") === col("pk_k"), "left")
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("k").isNull, col("n"))), lit(0L)).as("n_null"),
        coalesce(sum(when(orphan, col("n"))), lit(0L)).as("n_orphan_rows"),
        count(when(orphan, lit(1))).as("n_orphan_keys"))
      .select(lit(rel).as("relation"), col("n_rows"), col("n_null"),
        col("n_orphan_rows"), col("n_orphan_keys"))
  }

  /** One child table's (fk-slot, key) → count grid off a SINGLE scan:
    * each row explodes into one (slot, key) pair per audited FK, and
    * the map-side partial agg collapses to key grain before the one
    * exchange — so auditing k FKs of the same fact costs ONE fact
    * scan + one key-grain shuffle, not k scans (at 100× the three
    * separate lineitem scans were the sweep's largest avoidable
    * constant: 51.4 s). The grid is key-grain (Σ distinct keys per
    * FK), so the persist is sketch-sized relative to the fact;
    * release is caller-owned via the harness clearCache convention. */
  private[graft] def fkKeyGrid(child: DataFrame, fks: Seq[String]): DataFrame =
    child
      .select(explode(array(fks.zipWithIndex.map { case (fk, i) =>
        struct(lit(i).as("f"), col(fk).cast("long").as("k"))
      }: _*)).as("e"))
      .select(col("e.f").as("f"), col("e.k").as("k"))
      .groupBy(col("f"), col("k")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[riAudit]] over a pre-aggregated (key, n) slice instead of the
    * raw child — the shared-scan path of q216. */
  private[graft] def riAuditKeyed(rel: String, ck: DataFrame,
                                  parent: DataFrame, pk: String): DataFrame = {
    val pks = parent.select(col(pk).as("pk_k")).distinct()
    val orphan = col("k").isNotNull && col("pk_k").isNull
    ck.join(pks, col("k") === col("pk_k"), "left")
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("k").isNull, col("n"))), lit(0L)).as("n_null"),
        coalesce(sum(when(orphan, col("n"))), lit(0L)).as("n_orphan_rows"),
        count(when(orphan, lit(1))).as("n_orphan_keys"))
      .select(lit(rel).as("relation"), col("n_rows"), col("n_null"),
        col("n_orphan_rows"), col("n_orphan_keys"))
  }

  private def q216(s: SparkSession, dir: String): DataFrame = {
    val grid = fkKeyGrid(Tables.lineitem(s, dir),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    def slice(i: Int): DataFrame = grid.filter(col("f") === i).drop("f")
    Seq(
      riAuditKeyed("lineitem.l_orderkey->orders.o_orderkey",
        slice(0), Tables.orders(s, dir), "o_orderkey"),
      riAuditKeyed("lineitem.l_partkey->part.p_partkey",
        slice(1), Tables.part(s, dir), "p_partkey"),
      riAuditKeyed("lineitem.l_suppkey->supplier.s_suppkey",
        slice(2), Tables.supplier(s, dir), "s_suppkey"),
      riAudit("orders.o_custkey->customer.c_custkey",
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey")
    ).reduce(_ unionByName _)
  }

  // q217 — K-ANONYMITY RISK AUDIT: the re-identification screen run
  // before any user-grain table leaves the lake — group by the
  // quasi-identifier tuple (nation, market segment, account-balance
  // band) and flag every cell whose population is below k = 5: a
  // row in such a cell is re-identifiable by an adversary who knows
  // just those attributes (Sweeney 2002). The dataset's k-anonymity
  // (the minimum cell size) rides along on every row. Exactness:
  // integer counts; the band is floor(bal/2000) — one double divide,
  // identical on both engines. Scale shape: ONE partial-agg shuffle
  // to QI-cell grain; the min-cell scalar broadcasts back; output is
  // |cells| rows (bounded by the QI domain, not the row count).
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(s, dir)
      .groupBy(col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / lit(2000d)).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("n"))
    val kAnon = cells.agg(min(col("n")).as("k_anon"))
    cells.crossJoin(broadcast(kAnon))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("n"), (col("n") < 5).as("risky"), col("k_anon"))
  }

  // q218 — FUZZY ENTITY MATCHING (blocked Jaro-Winkler): find
  // spelling-variant phrase pairs in the corpus vocabulary — the
  // entity-resolution kernel (match product names / vendor strings /
  // author variants) expressed over this corpus's word-bigram
  // phrases. Candidate generation is standard ER BLOCKING: phrases
  // meet only inside a (2-char-prefix) block and only when their
  // lengths differ by ≤ 3 — the all-pairs quadratic never runs.
  // Match rule: Jaro-Winkler ≥ 0.85, tested on floor(jw·1e6 + 0.5)
  // ≥ 850000 so the boundary is an integer comparison (JaroWinklerExpr
  // is bitwise-pinned to DuckDB's jaro_winkler_similarity — verified
  // over 20k random pairs — so the quantized values agree exactly).
  // Scale shape: the phrase table is VOCABULARY-sized (distinct
  // bigrams, one partial-agg dedup of the exploded scan — content
  // growth, not row growth, is what scales it); the block join's
  // fan-out is Σ_blocks |block|², subquadratic under any real prefix
  // distribution (hot-block salting is the q47 machinery if a
  // degenerate prefix appears); output is the match set.
  private def q218(s: SparkSession, dir: String): DataFrame =
    entityMatch(Tables.documents(s, dir))

  /** The distinct word-bigram phrase vocabulary — q218's and q231's
    * shared candidate universe (column `p`). Vocabulary-sized: one
    * partial-agg dedup of the exploded scan, so verbatim corpus
    * replicas collapse before any blocking join. PERSISTED: both
    * consumers join the vocabulary against itself, and without the
    * persist Catalyst plans the scan+explode+distinct subtree TWICE
    * (measured: the two 25 s scan stages dominate the 100x probe) —
    * at 100 TB you materialize the vocabulary once, then block.
    * CACHE OWNERSHIP: the returned match frame is lazy, so this
    * function cannot unpersist without dropping the cache before
    * evaluation — release is CALLER-OWNED. CacheManager dedupes
    * identical plans (re-persisting the same vocabulary is a no-op,
    * not a second copy), and every harness that runs these queries
    * (Bench, Verify, ScaleProbe) clears the cache after
    * each query's action completes. */
  private[graft] def phraseVocab(docs: DataFrame): DataFrame =
    docs
      .select(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i + 1]))")).as("p"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private[graft] def entityMatch(docs: DataFrame): DataFrame = {
    val phr = phraseVocab(docs)
    // the candidate join is an EQUI-join on (block, length): the left
    // side explodes its length into the ±3 tolerance band, so the
    // planner shuffles on a compound key and a degenerate 2-char
    // prefix (many phrases, one block) still splits across length
    // cells — a bare-block join would funnel the whole block through
    // one task (the q47 hot-band lesson).
    val a = phr.select(col("p").as("pa"), substring(col("p"), 1, 2).as("blk"),
      length(col("p")).as("la"))
      .withColumn("lb", explode(expr("sequence(la - 3, la + 3)")))
    val b = phr.select(col("p").as("pb"), substring(col("p"), 1, 2).as("blk"),
      length(col("p")).as("lb"))
    a.join(b, Seq("blk", "lb"))
      .filter(col("pa") < col("pb"))
      .withColumn("jw6",
        floor(graft.functions.JaroWinkler.column(col("pa"), col("pb")) * lit(1e6)
          + lit(0.5d)).cast("long"))
      .filter(col("jw6") >= 850000L)
      .select(col("pa").as("phrase_a"), col("pb").as("phrase_b"),
        (col("jw6").cast("double") / lit(1e6)).as("jw_r6"))
  }

  // q219 — SORTED-NEIGHBORHOOD DEDUP BLOCKING: the classic
  // entity-resolution alternative to LSH (Hernández & Stolfo 1995) —
  // sort the corpus by a normalization key (first 16 alphanumeric
  // chars of the lowered text), slide a window of w = 3 over the
  // sorted sequence, and verify only rank-adjacent candidates. The
  // verify is word-set jaccard ≥ 0.5, tested as the exact integer
  // cross-multiplication 2·|∩| ≥ |∪| — no float boundary. The global
  // sort rank comes from ChunkedFrame.globalRank (key prefix as the
  // chunk), NOT a single-task row_number window — the 100 TB answer
  // to "sort the corpus": parallelism stays ∝ volume/chunk through
  // the rank. Candidates materialize by exploding each row into its
  // w following ranks and equi-joining on rank — an equi-join the
  // planner shuffles on an integer key, never a range-condition
  // nested loop. Output: verified pairs with their rank distance and
  // jaccard. Scale shape: rank + explode(w) + one equi-join — O(w·n)
  // candidates by construction, the blocking guarantee itself.
  private def q219(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhood(Tables.documents(s, dir))

  // q245 — q219 with the word-set payload HASHED: the rank+delta
  // equi-join carries arrays of 8-byte md5-15 token keys instead of
  // word STRINGS (the q163/q194/q215 exchange rule — q219's 100×
  // exchange was 750/910 MB of strings; nothing downstream ever needs
  // the words back, only |∩|/|∪| counts). Hashing is md5-15 on BOTH
  // engines, so any collision is shared and the oracle parity stays
  // exact-integer; the output contract (pairs + counts + jaccard) is
  // q219's, and GovernSpec pins hashed ≡ string on the test corpus.
  private def q245(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhood(Tables.documents(s, dir), hashed = true)

  private[graft] def sortedNeighborhood(docs: DataFrame,
                                        hashed: Boolean = false): DataFrame = {
    val wsExpr =
      if (hashed)
        expr("array_distinct(transform(regexp_extract_all(lower(text), '[a-z0-9]+', 0), " +
          "w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)))")
      else expr("array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))")
    val d0 = docs.select(
      col("doc_id"),
      expr("substring(regexp_replace(lower(text), '[^a-z0-9]', ''), 1, 16)").as("skey"),
      wsExpr.as("ws"))
      .withColumn("__all", lit("all"))
    val ranked = graft.operators.ChunkedFrame.globalRank(
      d0, keyCol = "__all", chunk = substring(col("skey"), 1, 1),
      orderCols = Seq("skey", "doc_id"))
    val l = ranked.select(col("doc_id").as("doc_a"), col("ws").as("wa"), col("__g").as("ga"))
      .filter(size(col("wa")) > 0)
      .withColumn("gb", explode(array(col("ga") + 1, col("ga") + 2, col("ga") + 3)))
    val r = ranked.select(col("doc_id").as("doc_b"), col("ws").as("wb"), col("__g").as("gb"))
      .filter(size(col("wb")) > 0)
    val m = size(array_intersect(col("wa"), col("wb")))
    l.join(r, Seq("gb"))
      .withColumn("m", m)
      .withColumn("u", size(col("wa")) + size(col("wb")) - col("m"))
      .filter(col("m") * 2 >= col("u"))
      .select(col("doc_a"), col("doc_b"), (col("gb") - col("ga")).as("rank_dist"),
        col("m").cast("long").as("n_common"),
        r4(col("m").cast("double") / col("u").cast("double")).as("jac_r4"))
  }

  // q220 — SCD TYPE-2 DIMENSION BUILD: compress each user's event
  // stream into validity intervals of their current state (the
  // event_type as the tracked attribute) — the slowly-changing-
  // dimension build every warehouse runs to turn a change log into
  // an as-of-joinable dimension: one row per state CHANGE, with
  // [valid_from, valid_to) and an is_current flag on the open
  // interval. Exactness: pure column motion — timestamps and strings
  // carry through untouched; version numbers are exact ranks over
  // the unique (ts, event_id) order. Scale shape: the declared plan
  // is CHUNKED end to end (see [[scd2]]) — no task ever sorts one
  // user's whole history, so a dominant-key feed (one user = half
  // the volume, the q182 bot regime) stays block-parallel; the
  // direct two-window form survives as the spec's bitwise twin.
  private def q220(s: SparkSession, dir: String): DataFrame =
    scd2(Tables.events(s, dir))

  /** SCD2 kernel. `chunked = true` (default, the declared plan) never
    * sorts one user's whole history in a single task: the
    * change-detect lag evaluates through ChunkedFrame.withTrailingEval
    * (halo 1 — parallelism ∝ volume/block), and on the compressed
    * change rows the version rank comes from ChunkedFrame.globalRank
    * with `valid_to` recovered by a rank+1 self-join — a dominant-key
    * feed (one user = half the events, the q182 bot regime) stays
    * block-parallel end to end. `chunked = false` is the textbook
    * two-window form, kept for the bitwise-equality spec. */
  private[graft] def scd2(events: DataFrame, chunked: Boolean = true): DataFrame = {
    val base = events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    if (!chunked) {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      base
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("event_type") =!= col("prev"))
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    } else {
      // user-keyed chunking: the offset tables are bounded by nonempty
      // (user, hour) pairs — near event grain on sparse feeds — so the
      // broadcast hint is dropped and AQE decides (the flagsChunked
      // advisory discipline).
      val changes = graft.operators.ChunkedFrame.withTrailingEval(
        base, keyCol = "user_id", chunk = date_trunc("hour", col("ts")),
        orderCols = Seq("ts", "event_id"), haloWidth = 1,
        broadcastOffsets = false) { (df, wBase) =>
        df.withColumn("prev", lag(col("event_type"), 1).over(wBase))
      }.filter(col("prev").isNull || col("event_type") =!= col("prev"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val ranked = graft.operators.ChunkedFrame.globalRank(
        changes, keyCol = "user_id", chunk = date_trunc("hour", col("ts")),
        orderCols = Seq("ts", "event_id"), broadcastOffsets = false)
      val nxt = ranked.select(col("user_id").as("n_user"), col("__g").as("n_g"),
        col("ts").as("n_ts"))
      ranked.join(nxt,
          col("user_id") === col("n_user") && col("__g") + 1 === col("n_g"), "left")
        .select(col("user_id"), (col("__g") + 1).as("version"),
          col("event_type").as("state"), col("ts").as("valid_from"),
          col("n_ts").as("valid_to"), col("n_ts").isNull.as("is_current"))
    }
  }

  // q226 — CO-SUPPLY TRIANGLE CENSUS: triangles and local clustering
  // coefficients of the supplier graph whose edges are pairs sharing
  // an unusually LARGE common-part portfolio (common-parts count ≥
  // the exact p90 of all pair counts — a RELATIVE threshold, so the
  // query transfers across scale factors with very different overlap
  // densities). Triangle density reads supply-base redundancy: a
  // supplier inside many triangles is interchangeable, a high-degree
  // low-clustering supplier is a single point of failure. Exactness:
  // common-part counts are exact integers; the p90 threshold is an
  // order statistic (k = ⌈0.9·n⌉-th smallest under the deterministic
  // (c, sa, sb) order — no interpolation); the clustering coefficient
  // is one shared IEEE division. Scale shape: the volume-sized scan
  // collapses to distinct (supplier, part) in one partial agg (100
  // verbatim fact replicas leave it untouched — content-bound); the
  // per-part pair expansion is Σ_p deg(p)² — the documented hot-part
  // hazard, degree-capped in spirit by the p90 edge cut downstream;
  // the rank threshold rides ChunkedFrame.globalRank (chunk = the
  // count value) over the |S|²-bounded pair table; the triangle
  // closure is the standard oriented 3-join (a < b < c ids — each
  // triangle counted once) on the p90-thinned edge set.
  private def q226(s: SparkSession, dir: String): DataFrame =
    supplyTriangles(Tables.lineitem(s, dir))

  private[graft] def supplyTriangles(lineitem: DataFrame): DataFrame = {
    val sp = lineitem.select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
    val pairs = sp.as("a").join(sp.as("b"),
        col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("sa"), col("b.s").as("sb"))
      .agg(count(lit(1)).as("c"))
    // Round-16 optimization (guide §1.2 step 1): the p90 threshold is
    // an order statistic of the COUNT VALUE c only — the former
    // globalRank over the whole pair table ranked every (c, sa, sb)
    // row (a full-width window pass over the |S|²-bounded table) when
    // the (sa, sb) tiebreak can never change WHICH c sits at rank
    // ⌈0.9n⌉. The threshold now reads off the (c → pair-count) GRID —
    // |distinct c| rows, domain-bounded — with the q248/q279
    // chunk-banded running count: thr = min c whose cumulative count
    // reaches k = ⌈0.9n⌉ (positions covered by value c are
    // (prev, ct], so the first c with ct ≥ k is exactly the value at
    // rank k−1 under ANY within-c tiebreak). Same thr, no pair-table
    // rank pass at any scale.
    val nTab = pairs.agg(count(lit(1)).as("n"))
    val cGrid = pairs.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .withColumn("__one", lit("all"))
    val cCum = graft.operators.ChunkedFrame.withRunningSum(
      cGrid, "__one", expr("c DIV 100"), Seq("c"), "t", "ct")
    val thr = cCum.crossJoin(broadcast(nTab))
      .filter(col("ct") >= ceil(col("n").cast("double") * lit(0.9)))
      .groupBy(col("__one")).agg(min(col("c")).as("thr"))
      .select(col("thr"))
    // Round-16 optimization (guide §5 caching / §3.3 plan truncation):
    // the p90-thinned edge set feeds FIVE consumers (three oriented
    // triangle-join arms, the degree table, and the triangle-member
    // explode behind nt) — left lazy, each consumer re-derives the
    // whole pair-expansion subtree (64 scans / 73 exchanges in the
    // initial plan; runtime exchange reuse dedupes the heavy agg but
    // every final-agg + filter chain still re-executes 5x and the
    // stage graph pays the latency). The edge set is the SMALL
    // output of the p90 cut (≤10% of pairs by construction), so one
    // eager localCheckpoint materializes it once and the triangle
    // closure reads a flat in-memory table — within-run
    // materialization, recomputed from parquet every run (same
    // discipline as q105's sketch table).
    val edges = pairs.crossJoin(broadcast(thr)).filter(col("c") >= col("thr"))
      .select(col("sa"), col("sb"))
      .localCheckpoint(true)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e2.sa") === col("e1.sb"))
      .join(edges.as("e3"),
        col("e3.sa") === col("e1.sa") && col("e3.sb") === col("e2.sb"))
      .select(col("e1.sa").as("ta"), col("e1.sb").as("tb"), col("e2.sb").as("tc"))
    val nt = tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("t"))
    val deg = edges.select(explode(array(col("sa"), col("sb"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("d"))
    val dD = col("d").cast("double")
    val tD = coalesce(col("t"), lit(0L)).cast("double")
    deg.join(nt, Seq("s"), "left")
      .select(col("s").as("s_suppkey"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(col("d") > 1, r4(lit(2d) * tD / (dD * (dD - lit(1d))))).as("clust_r4"))
  }

  // q228 — REVENUE GINI CONCENTRATION per nation: the Lorenz-curve
  // inequality coefficient of customer revenue — the concentration
  // audit a risk/compliance desk runs next to q217's k-anonymity
  // (one tells you a cell is small, the other that one whale IS the
  // cell). Customers with no orders count as zero-revenue members
  // (left join — dropping them understates concentration). Formula:
  // over values sorted ascending with rank i, G = (2·Σi·xᵢ −
  // (n+1)·Σx) / (n·Σx) — tie order cancels algebraically, so the
  // deterministic (cents, custkey) sort is cosmetic. Exactness:
  // revenue quantizes ONCE to integer cents; Σi·xᵢ rides decimal
  // (DuckDB HUGEINT — rank×cents exceeds long at the 100× replica's
  // fattened per-customer revenue); ONE shared IEEE closing. Scale
  // shape: the volume-sized work is the per-customer order partial
  // agg; ranks live on the customer-grain (dim-bounded) table.
  private def q228(s: SparkSession, dir: String): DataFrame =
    revenueGini(Tables.customer(s, dir), Tables.orders(s, dir))

  private[graft] def revenueGini(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rev = orders
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100d) + lit(0.5d)).cast("long")).as("cents"))
    val cust = customer
      .select(col("c_custkey"), col("c_nationkey"))
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_nationkey"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("cents"), col("c_custkey"))
    val g = cust.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("cents")).as("s1"),
        // widen EACH factor before the product (the q240/q241 class):
        // rank·cents is volume-scale × value-scale and wraps LONG at
        // ~1e9 customers; the oracle multiplies in HUGEINT
        sum(col("i").cast("decimal(19,0)") *
          col("cents").cast("decimal(19,0)")).as("wsum"))
    def dd(c: Column) = c.cast("double")
    g.select(col("c_nationkey"), col("n_cust"),
      r4(dd(col("s1")) / lit(100d)).as("total_rev_r4"),
      when(col("s1") > 0,
        r4((lit(2d) * dd(col("wsum")) - (dd(col("n_cust")) + lit(1d)) * dd(col("s1"))) /
          (dd(col("n_cust")) * dd(col("s1"))))).as("gini_r4"))
  }

  // ---------------------------------------------------------------
  // q262 — LORENZ DECILE TABLE + TOP-1% CONCENTRATION: the curve
  // BEHIND q228's Gini coefficient, tabulated — each global customer-
  // revenue decile's member count, revenue mass, share, and
  // cumulative share, plus the top-1% whale bucket (id 101) every
  // concentration review actually asks about ("what fraction do the
  // top 1% carry?"). Zero-revenue customers count as members (q228's
  // left-join rule — dropping them understates concentration).
  // Exactness: revenue quantizes ONCE to integer cents; decile
  // boundaries are pure integer ranks k_d = (n·d) DIV 10 (top-1%
  // start = n − ⌈n/100⌉, also integer); a bucket's members and mass
  // come from rank-range overlaps max(0, min(ct, hi) − max(prev, lo))
  // on the (cents, count) GRID — tie order is irrelevant because
  // every occupant of a cell has the SAME cents value — with count ×
  // cents widened PER FACTOR to decimal (HUGEINT oracle). The only
  // IEEE ops are the closing share divides. Scale shape: the
  // volume-sized work is the per-customer order partial agg; the
  // rank machinery runs on the domain-bounded revenue-cents grid
  // via ChunkedFrame banded running counts (value-band parallelism,
  // never a customer-grain sort task); the bucket dim is 11
  // broadcast rows and the cumulative window is over 11 bucket rows.
  // Output: 11 rows.
  private def q262(s: SparkSession, dir: String): DataFrame =
    lorenzDeciles(Tables.customer(s, dir), Tables.orders(s, dir))

  private[graft] def lorenzDeciles(customer: DataFrame,
                                   orders: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    def dd(c: Column) = c.cast("double")
    val rev = orders
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100d) + lit(0.5d)).cast("long"))
        .as("cents"))
    val cust = customer.select(col("c_custkey"))
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cents"), lit(0L)).as("cents"))
    val grid = cust.groupBy(col("cents")).agg(count(lit(1)).as("x"))
      .withColumn("g", lit(1))
    val tot = grid.agg(sum(col("x")).as("n"),
      sum(d38(col("x")) * d38(col("cents"))).as("mass"))
    val cum = graft.operators.ChunkedFrame.withRunningSum(
      grid, "g", expr("cents DIV 100000"), Seq("cents"), "x", "ct")
      .withColumn("prev", col("ct") - col("x"))
    val buckets = customer.sparkSession.range(1, 12)
      .select(when(col("id") === 11, lit(101L)).otherwise(col("id"))
        .cast("long").as("bucket"))
    val ranged = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(buckets))
      .withColumn("lo", when(col("bucket") === 101L,
        col("n") - expr("(n + 99) DIV 100")).otherwise(expr("(n * (bucket - 1)) DIV 10")))
      .withColumn("hi", when(col("bucket") === 101L, col("n"))
        .otherwise(expr("(n * bucket) DIV 10")))
      .withColumn("occ", greatest(lit(0L),
        least(col("ct"), col("hi")) - greatest(col("prev"), col("lo"))))
    val perBucket = ranged.groupBy(col("bucket"))
      .agg(max(col("n")).as("n"), max(col("mass")).as("mass"),
        sum(col("occ")).as("n_members"),
        coalesce(sum(d38(col("occ")) * d38(col("cents"))), lit(0L).cast("decimal(38,0)"))
          .as("mass_d"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("cum_mass", sum(when(col("bucket") <= 10L, col("mass_d"))).over(wCum))
      .select(col("bucket"), col("n_members"),
        r2(dd(col("mass_d")) / lit(100d)).as("rev_r2"),
        (floor(dd(col("mass_d")) / dd(col("mass")) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("share_r6"),
        when(col("bucket") <= 10L,
          floor(dd(col("cum_mass")) / dd(col("mass")) * lit(1e6) + lit(0.5))
            / lit(1e6)).as("cum_share_r6"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q262_lorenz_deciles" -> q262 _,
    "q226_supply_triangles" -> q226 _,
    "q228_revenue_gini" -> q228 _,
    "q216_ri_orphans" -> q216 _,
    "q217_k_anonymity" -> q217 _,
    "q218_entity_match" -> q218 _,
    "q219_sorted_neighborhood" -> q219 _,
    "q245_sorted_neighborhood_hashed" -> q245 _,
    "q220_scd2_build" -> q220 _
  )

  val oracleSql: Map[String, String] = Map(
    "q262_lorenz_deciles" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), cust AS (
        |  SELECT coalesce(cents, 0) AS cents
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey
        |), g AS (SELECT cents, count(*)::BIGINT AS x FROM cust GROUP BY 1),
        |t AS (SELECT sum(x)::BIGINT AS n, sum(x::HUGEINT * cents) AS mass FROM g),
        |c1 AS (
        |  SELECT *, (sum(x) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS ct
        |  FROM g
        |), b AS (
        |  SELECT unnest(generate_series(1, 10))::BIGINT AS bucket
        |  UNION ALL SELECT 101::BIGINT
        |), d AS (
        |  SELECT bucket,
        |    CASE WHEN bucket = 101 THEN n - (n + 99) // 100
        |         ELSE (n * (bucket - 1)) // 10 END AS lo,
        |    CASE WHEN bucket = 101 THEN n ELSE (n * bucket) // 10 END AS hi,
        |    n, mass
        |  FROM b CROSS JOIN t
        |), occ AS (
        |  SELECT bucket, any_value(n) AS n, any_value(mass) AS mass,
        |    sum(greatest(0, least(ct, hi) - greatest(ct - x, lo)))::BIGINT AS n_members,
        |    coalesce(sum(greatest(0, least(ct, hi) - greatest(ct - x, lo))::HUGEINT
        |      * cents), 0) AS mass_d
        |  FROM d CROSS JOIN c1
        |  GROUP BY bucket
        |), fin AS (
        |  SELECT *, sum(CASE WHEN bucket <= 10 THEN mass_d END)
        |    OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_mass
        |  FROM occ
        |)
        |SELECT bucket, n_members,
        |  floor(mass_d::DOUBLE / 100 * 100 + 0.5)/100 AS rev_r2,
        |  floor(mass_d::DOUBLE / mass::DOUBLE * 1e6 + 0.5)/1e6 AS share_r6,
        |  CASE WHEN bucket <= 10 THEN
        |    floor(cum_mass::DOUBLE / mass::DOUBLE * 1e6 + 0.5)/1e6
        |  END AS cum_share_r6
        |FROM fin""".stripMargin,
    "q226_supply_triangles" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |pr AS (
        |  SELECT a.s AS sa, b.s AS sb, count(*)::BIGINT AS c
        |  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2
        |), nn AS (SELECT count(*)::BIGINT AS n FROM pr),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c, sa, sb) AS rn FROM pr),
        |thr AS (SELECT c AS thr FROM rk, nn WHERE rn = ceil(n::DOUBLE * 0.9)::BIGINT),
        |edges AS (SELECT sa, sb FROM pr, thr WHERE c >= thr),
        |tri AS (
        |  SELECT e1.sa AS ta, e1.sb AS tb, e2.sb AS tc FROM edges e1
        |  JOIN edges e2 ON e2.sa = e1.sb
        |  JOIN edges e3 ON e3.sa = e1.sa AND e3.sb = e2.sb
        |), nt AS (
        |  SELECT s, count(*)::BIGINT AS t FROM (
        |    SELECT ta AS s FROM tri UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
        |  GROUP BY 1
        |), deg AS (
        |  SELECT s, count(*)::BIGINT AS d FROM (
        |    SELECT sa AS s FROM edges UNION ALL SELECT sb FROM edges)
        |  GROUP BY 1
        |)
        |SELECT deg.s AS s_suppkey, d AS degree, coalesce(t, 0)::BIGINT AS n_triangles,
        |  CASE WHEN d > 1 THEN
        |    floor(2 * coalesce(t, 0)::DOUBLE / (d::DOUBLE * (d::DOUBLE - 1)) * 10000 + 0.5)/10000
        |  END AS clust_r4
        |FROM deg LEFT JOIN nt ON deg.s = nt.s""".stripMargin,
    "q228_revenue_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), cust AS (
        |  SELECT c_custkey, c_nationkey, coalesce(cents, 0)::BIGINT AS cents
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY cents, c_custkey)::BIGINT AS i
        |  FROM cust
        |), g AS (
        |  SELECT c_nationkey, count(*)::BIGINT AS n_cust, sum(cents)::BIGINT AS s1,
        |    sum(i::HUGEINT * cents::HUGEINT) AS wsum
        |  FROM rk GROUP BY 1
        |)
        |SELECT c_nationkey, n_cust,
        |  floor(s1::DOUBLE / 100 * 10000 + 0.5)/10000 AS total_rev_r4,
        |  CASE WHEN s1 > 0 THEN
        |    floor((2 * wsum::DOUBLE - (n_cust::DOUBLE + 1) * s1::DOUBLE)
        |      / (n_cust::DOUBLE * s1::DOUBLE) * 10000 + 0.5)/10000
        |  END AS gini_r4
        |FROM g""".stripMargin,
    "q216_ri_orphans" -> {
      def one(rel: String, child: String, fk: String, parent: String, pk: String) =
        s"""SELECT '$rel' AS relation,
           |  coalesce(sum(n), 0)::BIGINT AS n_rows,
           |  coalesce(sum(CASE WHEN c.k IS NULL THEN n END), 0)::BIGINT AS n_null,
           |  coalesce(sum(CASE WHEN c.k IS NOT NULL AND p.k IS NULL THEN n END), 0)::BIGINT AS n_orphan_rows,
           |  count(CASE WHEN c.k IS NOT NULL AND p.k IS NULL THEN 1 END)::BIGINT AS n_orphan_keys
           |FROM (SELECT $fk AS k, count(*) AS n FROM $child GROUP BY 1) c
           |LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p ON c.k = p.k""".stripMargin
      Seq(
        one("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        one("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        one("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        one("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey")
      ).mkString("\nUNION ALL\n")
    },
    "q217_k_anonymity" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 2000)::BIGINT AS bal_band, count(*)::BIGINT AS n
        |  FROM customer GROUP BY 1, 2, 3
        |), ka AS (SELECT min(n) AS k_anon FROM cells)
        |SELECT c_nationkey, c_mktsegment, bal_band, n, n < 5 AS risky, k_anon
        |FROM cells CROSS JOIN ka""".stripMargin,
    "q218_entity_match" ->
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents
        |), ph AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i + 1])) AS p
        |  FROM t WHERE len(ts) >= 2
        |), a AS (SELECT p AS pa, substr(p, 1, 2) AS blk, len(p) AS la FROM ph),
        |b AS (SELECT p AS pb, substr(p, 1, 2) AS blk, len(p) AS lb FROM ph),
        |cand AS (
        |  SELECT pa, pb,
        |    floor(jaro_winkler_similarity(pa, pb) * 1e6 + 0.5)::BIGINT AS jw6
        |  FROM a JOIN b USING (blk)
        |  WHERE pa < pb AND abs(la - lb) <= 3
        |)
        |SELECT pa AS phrase_a, pb AS phrase_b, jw6::DOUBLE / 1e6 AS jw_r6
        |FROM cand WHERE jw6 >= 850000""".stripMargin,
    "q219_sorted_neighborhood" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 16) AS skey,
        |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
        |  FROM documents
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY skey, doc_id) - 1 AS g FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.g - a.g AS rank_dist,
        |    len(list_intersect(a.ws, b.ws))::BIGINT AS m,
        |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))::BIGINT AS u
        |  FROM r a JOIN r b ON b.g >= a.g + 1 AND b.g <= a.g + 3
        |  WHERE len(a.ws) > 0 AND len(b.ws) > 0
        |)
        |SELECT doc_a, doc_b, rank_dist, m AS n_common,
        |  floor(m::DOUBLE / u::DOUBLE * 10000 + 0.5)/10000 AS jac_r4
        |FROM pairs WHERE 2 * m >= u""".stripMargin,
    "q245_sorted_neighborhood_hashed" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 16) AS skey,
        |    list_distinct(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)) AS ws
        |  FROM documents
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY skey, doc_id) - 1 AS g FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.g - a.g AS rank_dist,
        |    len(list_intersect(a.ws, b.ws))::BIGINT AS m,
        |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))::BIGINT AS u
        |  FROM r a JOIN r b ON b.g >= a.g + 1 AND b.g <= a.g + 3
        |  WHERE len(a.ws) > 0 AND len(b.ws) > 0
        |)
        |SELECT doc_a, doc_b, rank_dist, m AS n_common,
        |  floor(m::DOUBLE / u::DOUBLE * 10000 + 0.5)/10000 AS jac_r4
        |FROM pairs WHERE 2 * m >= u""".stripMargin,
    "q220_scd2_build" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type FROM events
        |), g AS (
        |  SELECT *, lag(event_type) OVER w AS prev FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), c AS (
        |  SELECT * FROM g WHERE prev IS NULL OR event_type <> prev
        |)
        |SELECT user_id, row_number() OVER w2 AS version, event_type AS state,
        |  ts AS valid_from, lead(ts) OVER w2 AS valid_to,
        |  lead(ts) OVER w2 IS NULL AS is_current
        |FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
  )
}
