package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.GapFill

/** Round-3 analytics surface: reshaping (pivot/unpivot/CUBE), the
  * ranking-window battery, regular-grid resampling with LOCF, and
  * edit-distance fuzzy dedup. All oracle-checked against DuckDB.
  */
object AnalyticsQueries {

  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)
  private def ev(s: SparkSession, dir: String) = Tables.events(s, dir)

  // q51 — pivot: long->wide per returnflag over the two linestatus
  // values. Explicit value list keeps the output schema static (a
  // discovery pivot would scan once just to learn the columns — at
  // 100 TB always pass the values). Decimal sums: partition-invariant;
  // emitted as double (exact-decimal→double is bitwise identical
  // cross-engine, and a raw decimal output column stringifies
  // differently per reader: "253942.00" vs "253942.0").
  private def q51(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .withColumn("qty", col("l_quantity").cast("decimal(18,2)"))
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("qty")))
      .select(col("l_returnflag"),
        col("F").cast("double").as("qty_f"),
        col("O").cast("double").as("qty_o"))

  // q52 — unpivot (wide->long melt): one row per (id, measure). The
  // generated Expand is map-side only — no shuffle at any scale.
  private def q52(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "val")

  // q53 — CUBE grouping sets: all four (flag, status) grouping
  // combinations; grouping_id disambiguates subtotal NULLs from data
  // NULLs (same contract as q49's ROLLUP). Two-phase like q49: the
  // finest-group pre-aggregate feeds the cube, so Expand ×4 touches
  // |groups| rows instead of every input row.
  private def q53(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("pn"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("pp"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        sum(col("pn")).as("n_rows"),
        r2(sum(col("pp")).cast("double")).as("sum_price"))

  // q54 — ranking-window battery: ntile / percent_rank / cume_dist /
  // nth_value / lead / lag over a per-key total order. percent_rank
  // and cume_dist are integer-ratio doubles — bitwise identical
  // cross-engine, no rounding needed. Explicit ROWS frame on
  // nth_value: the default RANGE frame is equivalent here only
  // because the order key is unique — pin it anyway.
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir).select(
      col("event_id"), col("event_type"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cdist"),
      nth_value(col("value"), 3).over(wRows).as("third_val"),
      lead(col("value"), 1).over(w).as("next_val"),
      lag(col("value"), 1).over(w).as("prev_val"))
  }

  // q127 — DISTRIBUTION FUNCTIONS WITHOUT THE PER-KEY SORT: the same
  // ntile/percent_rank/cume_dist outputs as q54, computed the way a
  // five-key feed at 100x has to compute them — q54's single
  // Window.partitionBy(event_type) sorts each key's ENTIRE history in
  // one task (the q108 ceiling), while this plan derives every
  // distribution function from ChunkedFrame.globalRank's two-level
  // prefix rank (keys x value-buckets tasks wide, no global sort) plus
  // the per-key total N (one 5-row broadcast):
  //   percent_rank = g / (N-1)        cume_dist = (g+1) / N
  //   ntile(n)     = pure arithmetic over (g, N) — the first N%n
  //                  tiles take ceil(N/n) rows, the rest floor(N/n)
  // (g = 0-based rank). The oracle runs the NATIVE window functions,
  // so the green row proves the arithmetic reproduces the SQL
  // semantics exactly — integer-ratio doubles, bitwise cross-engine.
  // The value-bucket chunking satisfies globalRank's monotonicity
  // contract because floor(value) is monotonic in the (value, id)
  // order prefix.
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val ranked = graft.operators.ChunkedFrame.globalRank(
      base, "event_type", floor(col("value")), Seq("value", "event_id"))
    val totals = base.groupBy(col("event_type")).agg(count(lit(1)).as("__n"))
    val q1   = expr("__n DIV 4")        // floor rows per tile
    val rem  = expr("__n % 4")          // tiles that take one extra row
    val cut  = (q1 + 1) * rem           // rows covered by the big tiles
    ranked.join(broadcast(totals), Seq("event_type"))
      .select(
        col("event_id"), col("event_type"),
        when(col("__g") < cut, expr("__g DIV (__n DIV 4 + 1)") + 1)
          .otherwise(rem + expr("(__g - (__n DIV 4 + 1) * (__n % 4)) DIV (__n DIV 4)") + 1)
          .cast("long").as("quartile"),
        when(col("__n") > 1,
          col("__g").cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(lit(0d)).as("pct_rank"),
        ((col("__g") + 1).cast("double") / col("__n").cast("double")).as("cdist"))
  }

  // q55 — regular-grid resample + LOCF gap-fill (GapFill.locf): every
  // (event_type, minute) between each key's first and last observed
  // minute, value carried forward, observation flag kept. No
  // arithmetic on value — LOCF copies bits, so no rounding.
  private def q55(s: SparkSession, dir: String): DataFrame =
    GapFill.locf(ev(s, dir), col("event_type"), "event_type", col("ts"),
      col("value"), Seq(col("ts"), col("event_id")), unit = "minute")
      .select(col("event_type"), unix_micros(col("bin")).as("bin_us"),
        col("value"), col("is_observed"))

  // q56 — edit-distance fuzzy near-dup (NearDup.editDistancePairs):
  // blocked on (language, 50-char length bucket), ASCII-normalized
  // prefix (DuckDB levenshtein counts bytes, Spark codepoints — on
  // [a-z0-9 ] they agree), threshold 10. The verify-step cost model
  // is documented on the operator.
  private def q56(s: SparkSession, dir: String): DataFrame =
    graft.functions.NearDup.editDistancePairs(
      Tables.documents(s, dir),
      "doc_id", regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
      Seq(col("lang"), expr("n_chars DIV 50")), maxDist = 10, prefixLen = 80)

  // q57 — TF-IDF top-5 terms per document (TextAnalysis.tfIdf). Rank
  // on the ROUNDED weight (term tiebreak) so cross-engine ulp noise in
  // ln/÷ cannot flip ranks; the raw-int rank filter keeps
  // InferWindowGroupLimit eligible (map-side top-k before the
  // exchange).
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = graft.functions.TextAnalysis.tfIdf(
      docs, col("doc_id"), graft.functions.TextAnalysis.wordTokens(col("text")))
      .withColumn("tfidf_r", r4(col("tfidf")))
    val rnk = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("tfidf_r").desc, col("term")))
    w.withColumn("rnk", rnk).filter(col("rnk") <= 5)
      .select(col("doc_id"), col("term"), col("n"), col("df"), col("tfidf_r"),
        col("rnk").cast("long").as("rnk"))
  }

  // q96 — INVERTED INDEX materialization: term -> (df, sorted posting
  // list) for mid-frequency terms (2 <= df <= 0.9*N — the band is
  // RELATIVE to corpus size so it selects the same vocabulary slice
  // at any scale factor) — the retrieval index build over a corpus.
  // Postings serialize as a comma-joined string (sorted numerically
  // BEFORE the string cast) because cross-engine array renderings
  // differ; the band excludes hapaxes and every-doc stop-words. Scale
  // shape: per-doc distinct is map-side (array_distinct before the
  // explode); one (term) shuffle builds df and postings together. An
  // uncapped posting list is the honest cost of an inverted index —
  // a production build shards postings above a length cap.
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"),
      explode(array_distinct(graft.functions.TextAnalysis.wordTokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        expr("array_join(transform(sort_array(collect_list(doc_id)), x -> cast(x as string)), ',')")
          .as("postings"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= 2 && col("df").cast("double") <= lit(0.9) * col("n_docs"))
      .select(col("term"), col("df"), col("postings"))
  }

  // q97 — CONJUNCTIVE RETRIEVAL (AND query): documents containing ALL
  // of the query terms — the universal-quantifier dual of q60's
  // existential any-gram probe, answered as HAVING count = |terms|
  // over the distinct (doc, term) relation. The query terms are
  // chosen deterministically (two lexicographically-first terms of
  // q96's mid-df band) so the query is self-contained at every scale
  // factor. Scale shape: the 2-row term set broadcasts; the fact side
  // is touched map-side and only matching (doc, term) rows reach the
  // per-doc count shuffle.
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val t = docs.select(col("doc_id"),
      explode(array_distinct(graft.functions.TextAnalysis.wordTokens(col("text")))).as("term"))
    val queryTerms = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= 2 && col("df").cast("double") <= lit(0.9) * col("n_docs"))
      .orderBy(col("term")).limit(2).select(col("term"))
    t.join(broadcast(queryTerms), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === 2)
      .select(col("doc_id"), col("n_hit"))
  }

  // q100 — FUNNEL ANALYSIS: per user, the first view, the first click
  // STRICTLY AFTER that view, and the first purchase strictly after
  // that click — the ordered multi-step conversion pattern (event
  // analytics' sequential-pattern classic; not expressible as plain
  // per-type mins because each step is anchored to the previous
  // step's time). Spark-first: each step is a filtered min-aggregate
  // joined to the previous step's anchor — three narrow shuffles on
  // user_id that AQE plans off shared exchanges, no window over the
  // raw event stream, no per-user sort. depth counts completed steps.
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
    val c = e.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("ts") > col("tv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
    val p = e.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("tc"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        unix_micros(col("tv")).as("tv_us"),
        unix_micros(col("tc")).as("tc_us"),
        unix_micros(col("tp")).as("tp_us"),
        (lit(1) + when(col("tc").isNotNull, 1).otherwise(0)
          + when(col("tp").isNotNull, 1).otherwise(0)).cast("long").as("depth"))
  }

  // q115 — BM25 RANKED RETRIEVAL (k1=1.2, b=0.75): the scoring
  // function completing the q96/q97 retrieval stack (index build →
  // boolean match → ranked match). Query terms are q97's
  // deterministic pair; every BM25 input (tf, df, dlen, N, sum dlen)
  // is an exact integer aggregate, so the one double formula is the
  // same IEEE op sequence on both engines and ranks on the r4-rounded
  // score (doc tiebreak) are stable. Scale shape: the 2-row term set
  // broadcasts onto the (doc, term) relation; doc lengths come from
  // one partial-agg shuffle; the final ranked list is TakeOrdered.
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val docsDf = Tables.documents(s, dir)
    val n = docsDf.agg(count(lit(1)).as("n_docs"))
    val t = docsDf.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.wordTokens(col("text"))).as("term"))
    val tf = t.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val queryTerms = df_.crossJoin(broadcast(n))
      .filter(col("df") >= 2 && col("df").cast("double") <= lit(0.9) * col("n_docs"))
      .orderBy(col("term")).limit(2).select(col("term"), col("df"))
    val totDl = dl.agg(sum(col("dlen")).as("tot_dlen"))
    // parity bookkeeping: ln is the ONE transcendental — quantized to
    // 1e-8 right after (the q63/q81 fixed-point-log rule; every other
    // op is IEEE basic arithmetic on identical inputs, bitwise equal
    // cross-engine). Constants are written as the SAME literals both
    // sides (2.2, 1.2, 0.25, 0.75) — never as k1+1 on one side and
    // 2.2 on the other, which differ in the last ulp. The per-doc sum
    // has at most |queryTerms| = 2 addends, and two-operand IEEE
    // addition is commutative, so aggregation order cannot perturb it.
    val scored = tf.join(broadcast(queryTerms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(totDl))
      .withColumn("avgdl", col("tot_dlen").cast("double") / col("n_docs"))
      .withColumn("idf", floor(log(
        (col("n_docs").cast("double") - col("df") + lit(0.5d)) / (col("df").cast("double") + lit(0.5d)) + lit(1d))
        * lit(1e8) + lit(0.5d)) / lit(1e8))
      .withColumn("part", col("idf") * (col("tf").cast("double") * lit(2.2d))
        / (col("tf").cast("double") + lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dlen").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), r4(sum(col("part"))).as("bm25_r"))
    scored.orderBy(col("bm25_r").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("n_terms"), col("bm25_r"))
  }

  // q211 — TEXTRANK KEYWORD CENTRALITY (Mihalcea & Tarau, EMNLP
  // 2004): the corpus's most central keywords — PageRank over the
  // token co-occurrence graph, where two vocabulary tokens are linked
  // whenever they appear within 4 positions of each other inside a
  // document. Frequency (q96's df) says "common"; centrality says
  // "connected to everything common" — the standard unsupervised
  // keyword extractor. Construction: the vocabulary is the top 30
  // tokens by document frequency (term tiebreak — the q115 boundary
  // determinism rule); co-occurrence pairs come from FOUR lead()
  // columns in ONE per-doc window pass (positions are consecutive,
  // so lead(k) IS "within k") emitted in both directions, making the
  // count matrix symmetric; rows normalize to a random walk, isolated
  // vocabulary tokens take the uniform dangling patch, and the rank
  // closes with the q200 discipline — 40 fixed-order power
  // iterations, damping 0.85, teleport 0.15/n, every component
  // snapped to 1e-9 — over the collected ≤30×30 matrix, driver-side
  // and volume-independent. DuckDB replays the WHOLE pipeline
  // including the iterations (recursive CTE over dynamic-length
  // lists: column dots via list_transform + list_dot_product, both
  // order-preserving). Scale shape: one posexplode + distinct for
  // df, one per-doc window pass (doc-sized keys — no dominant-key
  // hazard), a 30-literal IN filter, one bounded (f, t) partial agg.
  private def q211(s: SparkSession, dir: String): DataFrame =
    textRank(s, dir, hashedTerms = false)

  // q215 — the HASHED-TERM twin of q211 (the q163/q194/q195 exchange
  // rule applied to TextRank): the df distinct and the per-doc
  // position window — q211's two volume-sized exchanges — ship
  // 8-byte xxhash64 term keys instead of term strings; only the ≤30
  // vocabulary terms (plus boundary-tie candidates) ever move as
  // strings, via a broadcast-hash-filtered lookup. The OUTPUT carries
  // term strings and is exactly q211's unless an xxhash64 collision
  // merges two terms (2^-64 per pair; TextRankHashedSpec pins
  // equality on the testdata corpora), so the string twin's DuckDB
  // oracle replays verbatim.
  private def q215(s: SparkSession, dir: String): DataFrame =
    textRank(s, dir, hashedTerms = true)

  private def textRank(s: SparkSession, dir: String, hashedTerms: Boolean): DataFrame = {
    import s.implicits._
    val posStr = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.TextAnalysis.wordTokens(col("text"))).as(Seq("pos", "term")))
    // vseq: the top-30 vocabulary by (df DESC, term ASC), as
    // (term, df, key) where key drives every volume-sized exchange
    val (vseq, pos) = if (!hashedTerms) {
      val v = posStr.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(30)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (v.map { case (t, d) => (t, d, t: Any) }, posStr.withColumn("k", col("term")))
    } else {
      val ph = posStr.select(col("doc_id"), xxhash64(col("term")).as("th"))
      // df per HASH (16-byte rows through both exchanges), then the
      // exact top-30-by-(df, term) cut: the 30 largest df values give
      // the boundary d30; every hash with df >= d30 is a candidate
      // (ties at d30 included), and only candidates' strings are
      // looked up — a broadcast-literal filter on the raw positions,
      // so term strings never cross a volume-sized exchange
      val dfh = ph.distinct().groupBy(col("th")).agg(count(lit(1)).as("df"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val top = dfh.orderBy(col("df").desc).limit(30).collect()
      val d30 = if (top.isEmpty) 0L else top.map(_.getAs[Long]("df")).min
      val cand = dfh.filter(col("df") >= d30)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("df")).toMap
      dfh.unpersist(blocking = false)
      val candTerms = posStr
        .filter(xxhash64(col("term")).isin(cand.keys.toSeq: _*))
        .select(col("term"), xxhash64(col("term")).as("th")).distinct()
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val v = candTerms.map { case (t, h) => (t, cand(h), h) }
        .sortBy { case (t, d, _) => (-d, t) }.take(30)
      (v.map { case (t, d, h) => (t, d, h: Any) }, posStr.withColumn("k", xxhash64(col("term"))))
    }
    val states = vseq.map(_._1).sorted.toVector // matrix order: alphabetical
    val dfMap = vseq.map(v => (v._1, v._2)).toMap
    val keyOf = vseq.map(v => (v._1, v._3)).toMap
    val stateKeys = states.map(keyOf) // key literals, aligned to states
    val keyIdx = stateKeys.zipWithIndex.toMap
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val led = pos.select(col("doc_id"), col("pos"), col("k"))
      .withColumn("t1", lead(col("k"), 1).over(w))
      .withColumn("t2", lead(col("k"), 2).over(w))
      .withColumn("t3", lead(col("k"), 3).over(w))
      .withColumn("t4", lead(col("k"), 4).over(w))
      .filter(col("k").isin(stateKeys: _*))
    val pairs = led
      .select(col("k").as("f"),
        explode(array(col("t1"), col("t2"), col("t3"), col("t4"))).as("t"))
      .filter(col("t").isNotNull && col("t").isin(stateKeys: _*))
    val cnt = pairs.select(col("f"), col("t"))
      .unionAll(pairs.select(col("t").as("f"), col("f").as("t")))
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => (keyIdx(r.get(0)), keyIdx(r.get(1))) -> r.getLong(2)).toMap
    val n = states.size
    val nD = n.toDouble
    val outTot = (0 until n).map(fi => (0 until n).map(ti => cnt.getOrElse((fi, ti), 0L)).sum)
    val p = Array.tabulate(n, n) { (fi, ti) =>
      if (outTot(fi) == 0L) 1.0 / nD
      else cnt.getOrElse((fi, ti), 0L).toDouble / outTot(fi).toDouble
    }
    var pr = Array.fill(n)(1.0 / nD)
    var it = 0
    while (it < 40) {
      val next = Array.tabulate(n) { i =>
        var dot = 0.0
        var j = 0
        while (j < n) { dot += p(j)(i) * pr(j); j += 1 }
        math.floor((0.15 / nD + 0.85 * dot) * 1e9 + 0.5) / 1e9
      }
      pr = next
      it += 1
    }
    states.zipWithIndex.map { case (t, i) =>
      (t, dfMap(t), outTot(i), math.floor(pr(i) * 10000 + 0.5) / 10000)
    }.toDF("term", "df", "out_cooc", "textrank")
  }

  // q116 — COHORT RETENTION: users grouped by first-activity week,
  // distinct actives per (cohort, week-offset) — the retention matrix
  // every product-analytics stack reports. Scale shape: one shuffle
  // builds the per-user cohort (partial-agg min), one more counts
  // distinct users per (cohort, offset) — the matrix itself is
  // |weeks|² rows. Week bucketing is date_trunc('week') on BOTH
  // engines (ISO Monday), and the offset is exact integer day
  // arithmetic.
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), date_trunc("week", col("ts")).as("w"))
    val first = e.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
    e.join(first, Seq("user_id"))
      .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        expr("datediff(w, cw) DIV 7").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  // q117 — EVENT-TRANSITION MATRIX: per-user consecutive event pairs
  // (lag over the user's time-ordered stream) -> transition counts
  // and conditional probabilities — the Markov-chain view of user
  // behavior (q63's bigram LM on the event axis). The probability is
  // one double ratio of exact counts, rounded once. Scale shape: one
  // shuffle partitions users (lag is per-user), the pair count is a
  // partial agg; the matrix is |types|² rows.
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = ev(s, dir)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    pairs.join(totals, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        r4(col("n").cast("double") / col("tot")).as("p"))
  }

  // q120 — GAPS AND ISLANDS: per user, maximal runs of consecutive
  // active minutes (the classic sessionization-by-row-number-delta
  // SQL pattern: minute − rank is constant exactly within a
  // consecutive run). Summarized per user: island count, longest
  // island, total active minutes. Scale shape: one shuffle partitions
  // users for the rank, the island key is map-side arithmetic, and
  // both aggregations are partial — no self-join, no lag chain.
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("min_us"))
    val mins = ev(s, dir)
      .select(col("user_id"),
        (unix_micros(date_trunc("minute", col("ts"))) / lit(60000000L)).cast("long").as("min_us"))
      .distinct()
    mins
      .withColumn("isl", col("min_us") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        max(col("run_len")).as("longest_run"),
        sum(col("run_len")).as("active_minutes"))
  }

  // q58 — corpus vocabulary: top-100 terms by document frequency
  // (term tiebreak) with occurrence totals — the heavy-hitter scan a
  // tokenizer build starts from. orderBy+limit plans as TakeOrdered
  // (per-partition top-100, no global sort).
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.wordTokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("total_n"))
      .orderBy(col("df").desc, col("term"))
      .limit(100)
  }

  // q59 — LSH-fronted fuzzy dedup (NearDup.editDistancePairsLsh):
  // char-3-gram MinHash candidates + banded-DP verify, identical
  // prefixes canonicalized to one node. At this geometry the output
  // EXACTLY equals the unblocked brute-force pairs on the test
  // corpora (measured 2026-08: 0 missing / 0 spurious at sf0.01 AND
  // sf0.1; the strict oracle row re-checks sf0.01 on every Verify
  // run, EditDistanceSpec the planted recall), so the query carries
  // a strict brute-force equality oracle that knows nothing about
  // LSH — same argument as q22. Compare q56: the (lang,
  // length-bucket) blocked form trades away cross-block pairs; this
  // one only prunes on the sound |len diff| bound.
  private def q59(s: SparkSession, dir: String): DataFrame =
    graft.functions.NearDup.editDistancePairsLsh(
      Tables.documents(s, dir),
      "doc_id", regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
      maxDist = 10, prefixLen = 80)

  // q213 — fuzzy-dedup CLUSTERS: the edit-distance family's q48.
  // Connected components over the SET-granular verified pairs
  // (NearDup.editDistanceSetPairs: identical prefixes collapse to one
  // node before the LSH, banded-DP verify between distinct prefixes)
  // → every doc assigned its cluster (min-id canonical), size,
  // survivor flag. THIS is the scale-correct form of the q56/q59
  // story: pair LISTING is Θ(answer-size) — q59 is the 100× sweep's
  // only spiller because a duplicated corpus makes its OUTPUT
  // quadratic — but cluster assignment stays at the set grain, so
  // output is one row per doc (linear) and the CC edge list is
  // bounded by distinct content. Oracle recomputes the components
  // with a recursive label-propagation CTE over the brute-force
  // levenshtein pairs (knows nothing about LSH or sets — same
  // strict-oracle argument as q48/q59).
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val (sets, setPairs) = graft.functions.NearDup.editDistanceSetPairs(
      Tables.documents(s, dir),
      "doc_id", regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
      maxDist = 10, prefixLen = 80)
    graft.operators.ConnectedComponents.dedupAssignmentBySets(sets, setPairs)
  }

  // q214 — fuzzy-dedup SURVIVOR CORPUS: the edit-distance family's
  // q67 — q213's clusters reduced to their min-id canonical survivor,
  // joined back to the document table (the frame a pipeline writes
  // out after fuzzy dedup). Same plan as q213 plus one
  // broadcast-eligible join; output ≤ one row per doc.
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val assigned = q213(s, dir)
    Tables.documents(s, dir)
      .join(assigned.filter(col("is_canonical")).select(col("doc_id"), col("cluster_size")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("cluster_size"))
  }

  // q82 — per-key EWMA smoothing (alpha=0.2): the canonical
  // order-dependent recursion no windowed aggregate expresses. Scale
  // shape: one shuffle groups each user's events; sort_array +
  // the one-pass codegen Ewma expression run map-side per group (the
  // group is the parallelism unit — no global order exists). Parity
  // is exact: the fold performs the identical IEEE op sequence in
  // both engines (DuckDB replays it with list_reduce prefixes), so
  // even the r4 rounding is cosmetic.
  private def q82(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("user_id"), struct(col("ts"), col("event_id"), col("value")).as("p"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .select(col("user_id"), col("ps"),
        graft.functions.Ewma.column(expr("transform(ps, p -> p.value)"), 0.2).as("ys"))
      .select(col("user_id"), explode(arrays_zip(col("ps"), col("ys"))).as("z"))
      .select(col("user_id"), col("z.ps.event_id").as("event_id"),
        r4(col("z.ps.value")).as("value"), r4(col("z.ys")).as("ewma"))

  // q123 — HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION (Cormack &
  // Clarke SIGIR'09): the standard way production search fuses
  // heterogeneous rankers without score calibration — each ranker
  // contributes 1/(60 + rank) for the docs on its list and documents
  // are re-ranked by the sum. Rankers here are the engine's two
  // lexical scorers for q97's deterministic query pair: BM25 (q115's
  // exact scoring — length-normalized, saturating tf) and summed
  // TF-IDF weight (q57's basis — no length saturation), top-20 lists
  // each. RRF is rank-arithmetic on small integers, so fusion is
  // engine-exact by construction; the component ranks inherit the
  // proven quantized-score + doc-id tiebreaks. At scale the rankers
  // run over the inverted index (q96) and fuse per query; the ANN
  // ranker (q104) slots in as a third list the same way — rank in,
  // 1/(60+r) out.
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val docsDf = Tables.documents(s, dir)
    val n = docsDf.agg(count(lit(1)).as("n_docs"))
    val t = docsDf.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.wordTokens(col("text"))).as("term"))
    val tf = t.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val queryTerms = df_.crossJoin(broadcast(n))
      .filter(col("df") >= 2 && col("df").cast("double") <= lit(0.9) * col("n_docs"))
      .orderBy(col("term")).limit(2).select(col("term"), col("df"))
    val totDl = dl.agg(sum(col("dlen")).as("tot_dlen"))
    // ranker A: BM25 (q115's formula verbatim — same literals, same
    // 1e-8 ln quantization, same r4 on the summed score)
    val bm = tf.join(broadcast(queryTerms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(totDl))
      .withColumn("avgdl", col("tot_dlen").cast("double") / col("n_docs"))
      .withColumn("idf", floor(log(
        (col("n_docs").cast("double") - col("df") + lit(0.5d)) / (col("df").cast("double") + lit(0.5d)) + lit(1d))
        * lit(1e8) + lit(0.5d)) / lit(1e8))
      .withColumn("part", col("idf") * (col("tf").cast("double") * lit(2.2d))
        / (col("tf").cast("double") + lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dlen").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(r4(sum(col("part"))).as("score_a"))
    // rank = TakeOrdered(20) THEN a 20-row window — identical ranks to
    // numbering the full ordering and filtering <= 20 (what the oracle
    // writes), but the plan never single-partitions the full scored set
    val ra = bm.orderBy(col("score_a").desc, col("doc_id")).limit(20)
      .withColumn("rank_bm25",
        row_number().over(Window.orderBy(col("score_a").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_bm25"))
    // ranker B: summed TF-IDF weight (q57's r4-quantized per-term
    // basis; <= 2 addends, so the sum is order-free)
    val rbScores = tf.join(dl, Seq("doc_id")).join(df_, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("w", r4((col("tf").cast("double") / col("dlen"))
        * (log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1))) + lit(1))))
      .join(broadcast(queryTerms.select(col("term"))), Seq("term"))
      .groupBy(col("doc_id")).agg(r4(sum(col("w"))).as("score_b"))
    val rb = rbScores.orderBy(col("score_b").desc, col("doc_id")).limit(20)
      .withColumn("rank_tfidf",
        row_number().over(Window.orderBy(col("score_b").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_tfidf"))
    // fusion: RRF(d) = sum over lists containing d of 1/(60 + rank)
    ra.join(rb, Seq("doc_id"), "full_outer")
      .withColumn("rrf_r", floor((
        coalesce(lit(1.0) / (lit(60) + col("rank_bm25")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rank_tfidf")), lit(0.0))) * lit(1e8) + lit(0.5d)) / lit(1e8))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("rrf_r").desc, col("doc_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("doc_id"), col("rank_bm25"), col("rank_tfidf"), col("rrf_r"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_hybrid_rrf" -> q123 _,
    "q82_ewma" -> q82 _,
    "q115_bm25" -> q115 _,
    "q211_textrank" -> q211 _,
    "q215_textrank_hashed" -> q215 _,
    "q116_cohort_retention" -> q116 _,
    "q117_event_transitions" -> q117 _,
    "q120_gaps_islands" -> q120 _,
    "q96_inverted_index" -> q96 _,
    "q97_and_query" -> q97 _,
    "q100_funnel" -> q100 _,
    "q59_fuzzy_lsh" -> q59 _,
    "q213_fuzzy_clusters" -> q213 _,
    "q214_fuzzy_survivors" -> q214 _,
    "q57_tfidf_topterms" -> q57 _,
    "q58_vocab_top100" -> q58 _,
    "q51_pivot" -> q51 _,
    "q52_unpivot" -> q52 _,
    "q53_cube" -> q53 _,
    "q54_window_battery" -> q54 _,
    "q127_dist_funcs_chunked" -> q127 _,
    "q55_gapfill_locf" -> q55 _,
    "q56_fuzzy_editdist" -> q56 _
  )

  private val oracleSqlBase: Map[String, String] = Map(
    "q127_dist_funcs_chunked" ->
      """SELECT event_id, event_type,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,
    "q120_gaps_islands" ->
      """WITH m AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(date_trunc('minute', ts::TIMESTAMP)) // 60000000 AS min_us
        |  FROM events
        |), r AS (
        |  SELECT user_id, min_us,
        |    min_us - row_number() OVER (PARTITION BY user_id ORDER BY min_us) AS isl
        |  FROM m
        |), runs AS (
        |  SELECT user_id, isl, count(*) AS run_len FROM r GROUP BY 1, 2
        |)
        |SELECT user_id, count(*)::BIGINT AS n_islands,
        |  max(run_len)::BIGINT AS longest_run,
        |  sum(run_len)::BIGINT AS active_minutes
        |FROM runs GROUP BY 1""".stripMargin,
    "q116_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', ts::TIMESTAMP) AS w FROM events
        |), f AS (
        |  SELECT user_id, min(w) AS cw FROM e GROUP BY 1
        |)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        |  ((w::DATE - cw::DATE) // 7)::BIGINT AS week_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_active
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q117_event_transitions" ->
      """WITH p AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |), t AS (
        |  SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1
        |)
        |SELECT c.prev_type, c.next_type, c.n,
        |  floor(c.n::DOUBLE / t.tot * 10000 + 0.5)/10000 AS p
        |FROM c JOIN t ON c.prev_type = t.prev_type""".stripMargin,
    "q123_hybrid_rrf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY 1
        |), dfq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), nd AS (SELECT count(*) AS n_docs FROM documents),
        |tot AS (SELECT sum(dlen) AS tot_dlen FROM dl),
        |qt AS (
        |  SELECT term, df FROM dfq CROSS JOIN nd
        |  WHERE df >= 2 AND df::DOUBLE <= 0.9 * n_docs
        |  ORDER BY term LIMIT 2
        |), bm AS (
        |  SELECT tf.doc_id,
        |    floor(sum((floor(ln((n_docs::DOUBLE - qt.df + 0.5) / (qt.df::DOUBLE + 0.5) + 1) * 100000000 + 0.5) / 100000000)
        |        * (tf::DOUBLE * 2.2)
        |        / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dlen::DOUBLE / (tot_dlen::DOUBLE / n_docs)))) * 10000 + 0.5) / 10000 AS score_a
        |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN nd CROSS JOIN tot
        |  GROUP BY 1
        |), ra AS (
        |  SELECT doc_id, rank_bm25 FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score_a DESC, doc_id)::BIGINT AS rank_bm25 FROM bm)
        |  WHERE rank_bm25 <= 20
        |), tw AS (
        |  SELECT tf.doc_id,
        |    floor(sum(floor((tf::DOUBLE / dlen) * (ln((n_docs + 1)::DOUBLE / (dfq.df + 1)) + 1)*10000 + 0.5)/10000) * 10000 + 0.5)/10000 AS score_b
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN nd
        |  WHERE term IN (SELECT term FROM qt)
        |  GROUP BY 1
        |), rb AS (
        |  SELECT doc_id, rank_tfidf FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score_b DESC, doc_id)::BIGINT AS rank_tfidf FROM tw)
        |  WHERE rank_tfidf <= 20
        |), f AS (
        |  SELECT doc_id, rank_bm25, rank_tfidf,
        |    floor((coalesce(1.0::DOUBLE / (60 + rank_bm25), 0.0::DOUBLE)
        |         + coalesce(1.0::DOUBLE / (60 + rank_tfidf), 0.0::DOUBLE)) * 100000000 + 0.5) / 100000000 AS rrf_r
        |  FROM ra FULL JOIN rb USING (doc_id)
        |)
        |SELECT doc_id, rank_bm25, rank_tfidf, rrf_r, rnk FROM (
        |  SELECT *, row_number() OVER (ORDER BY rrf_r DESC, doc_id)::BIGINT AS rnk FROM f)
        |WHERE rnk <= 10""".stripMargin,
    "q211_textrank" ->
      // the q200 recursive-CTE replay generalized to a DATA-DEPENDENT
      // node set: the matrix is a list of rows in alphabetical term
      // order, column dots are list_transform(m, r -> r[i]) +
      // list_dot_product (both order-preserving, matching the driver
      // loop's fixed j-order), and init/teleport derive from len(p)
      // so the same SQL replays any vocabulary size.
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS xs
        |  FROM documents
        |), pos AS MATERIALIZED (
        |  SELECT doc_id, u.i AS pos, xs[u.i] AS term
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(xs))) AS i) u
        |), vocab AS MATERIALIZED (
        |  SELECT term, count(*)::BIGINT AS df FROM (
        |    SELECT DISTINCT doc_id, term FROM pos
        |  ) GROUP BY 1 ORDER BY df DESC, term LIMIT 30
        |), vs AS MATERIALIZED (
        |  SELECT term, df, row_number() OVER (ORDER BY term) AS rn FROM vocab
        |), pr AS MATERIALIZED (
        |  SELECT a.term AS f, b.term AS t2
        |  FROM pos a
        |  JOIN pos b ON a.doc_id = b.doc_id
        |    AND b.pos BETWEEN a.pos + 1 AND a.pos + 4
        |  JOIN vs va ON va.term = a.term
        |  JOIN vs vb ON vb.term = b.term
        |), cnt AS MATERIALIZED (
        |  SELECT f, t2, count(*)::BIGINT AS n FROM (
        |    SELECT f, t2 FROM pr UNION ALL SELECT t2, f FROM pr
        |  ) GROUP BY 1, 2
        |), outs AS MATERIALIZED (
        |  SELECT f, sum(n)::BIGINT AS out_n FROM cnt GROUP BY 1
        |), nn AS (SELECT count(*)::BIGINT AS n FROM vs),
        |cells AS (
        |  SELECT fs.rn AS fi, ti.rn AS ti_,
        |    CASE WHEN o.out_n IS NULL THEN 1.0::DOUBLE / (SELECT n FROM nn)::DOUBLE
        |      ELSE coalesce(c.n, 0)::DOUBLE / o.out_n::DOUBLE END AS v
        |  FROM vs fs CROSS JOIN vs ti
        |  LEFT JOIN outs o ON o.f = fs.term
        |  LEFT JOIN cnt c ON c.f = fs.term AND c.t2 = ti.term
        |), rows_m AS MATERIALIZED (
        |  SELECT fi, list(v ORDER BY ti_) AS row FROM cells GROUP BY fi
        |), mat AS MATERIALIZED (SELECT list(row ORDER BY fi) AS m FROM rows_m),
        |it(k, p) AS (
        |  -- lambdas lose outer bindings inside correlated scalar
        |  -- subqueries (binder limitation), so mat/nn join in plainly
        |  SELECT 0, list_transform(range(1, n::INT + 1),
        |    i -> 1.0::DOUBLE / n::DOUBLE)
        |  FROM nn
        |  UNION ALL
        |  SELECT k + 1, list_transform(range(1, len(p) + 1),
        |    i -> floor((0.15::DOUBLE / len(p)::DOUBLE
        |      + 0.85 * list_dot_product(list_transform(m, r -> r[i]), p)) * 1e9 + 0.5)/1e9)
        |  FROM it, mat WHERE k < 40
        |)
        |SELECT vs.term, vs.df,
        |  coalesce((SELECT out_n FROM outs WHERE f = vs.term), 0)::BIGINT AS out_cooc,
        |  floor(fin.p[vs.rn::INT] * 10000 + 0.5)/10000 AS textrank
        |FROM vs, (SELECT p FROM it WHERE k = 40) fin""".stripMargin,
    "q115_bm25" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY 1
        |), dfq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), nd AS (SELECT count(*) AS n_docs FROM documents),
        |tot AS (SELECT sum(dlen) AS tot_dlen FROM dl),
        |qt AS (
        |  SELECT term, df FROM dfq CROSS JOIN nd
        |  WHERE df >= 2 AND df::DOUBLE <= 0.9 * n_docs
        |  ORDER BY term LIMIT 2
        |), sc AS (
        |  SELECT tf.doc_id, count(*) AS n_terms,
        |    sum((floor(ln((n_docs::DOUBLE - df + 0.5) / (df::DOUBLE + 0.5) + 1) * 100000000 + 0.5) / 100000000)
        |        * (tf::DOUBLE * 2.2)
        |        / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dlen::DOUBLE / (tot_dlen::DOUBLE / n_docs)))) AS s
        |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN nd CROSS JOIN tot
        |  GROUP BY 1
        |)
        |SELECT doc_id, n_terms, floor(s * 10000 + 0.5) / 10000 AS bm25_r
        |FROM sc ORDER BY bm25_r DESC, doc_id LIMIT 20""".stripMargin,
    "q96_inverted_index" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |)
        |SELECT term, count(*)::BIGINT AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM t GROUP BY 1
        |HAVING count(*) >= 2
        |  AND count(*)::DOUBLE <= 0.9 * (SELECT count(*) FROM documents)""".stripMargin,
    "q100_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS tv FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS tc FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS tp FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1)
        |SELECT v.user_id, epoch_us(tv) AS tv_us, epoch_us(tc) AS tc_us,
        |  epoch_us(tp) AS tp_us,
        |  (1 + (tc IS NOT NULL)::INT + (tp IS NOT NULL)::INT)::BIGINT AS depth
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "q97_and_query" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |), qt AS (
        |  SELECT term FROM t GROUP BY 1
        |  HAVING count(*) >= 2
        |    AND count(*)::DOUBLE <= 0.9 * (SELECT count(*) FROM documents)
        |  ORDER BY term LIMIT 2
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_hit
        |FROM t JOIN qt USING (term)
        |GROUP BY 1 HAVING count(*) = 2""".stripMargin,
    "q82_ewma" ->
      // list_reduce over each prefix replays the EXACT IEEE fold the
      // engine's one-pass expression performs (seed y0 = x0, then
      // y = 0.2*x + 0.8*y), so values agree bitwise before rounding
      """WITH s AS (
        |  SELECT user_id,
        |    list(event_id ORDER BY ts::TIMESTAMP, event_id) AS ids,
        |    list(value ORDER BY ts::TIMESTAMP, event_id) AS vals
        |  FROM events GROUP BY 1
        |), y AS (
        |  SELECT user_id, ids, vals,
        |    list_transform(range(1, len(vals) + 1),
        |      i -> list_reduce(vals[1:i], (y, x) -> 0.2 * x + 0.8 * y)) AS ys
        |  FROM s
        |)
        |SELECT user_id, unnest(ids) AS event_id,
        |  floor(unnest(vals) * 10000 + 0.5)/10000 AS value,
        |  floor(unnest(ys) * 10000 + 0.5)/10000 AS ewma
        |FROM y""".stripMargin,
    "q213_fuzzy_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, substring(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 80) AS pfx
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE abs(length(a.pfx) - length(b.pfx)) <= 10
        |    AND levenshtein(a.pfx, b.pfx) <= 10
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b AS src, id_a AS dst FROM p
        |), lbl(id, l) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, lbl.l FROM lbl JOIN e ON lbl.id = e.src
        |), cc AS (
        |  SELECT id, min(l) AS cluster_id FROM lbl GROUP BY id
        |), assigned AS (
        |  SELECT doc_id, coalesce(cc.cluster_id, doc_id) AS cluster_id
        |  FROM documents LEFT JOIN cc ON doc_id = cc.id
        |), sizes AS (
        |  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM assigned GROUP BY 1
        |)
        |SELECT a.doc_id, a.cluster_id, s.cluster_size, a.doc_id = a.cluster_id AS is_canonical
        |FROM assigned a JOIN sizes s USING (cluster_id)""".stripMargin,
    "q214_fuzzy_survivors" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, substring(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 80) AS pfx
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE abs(length(a.pfx) - length(b.pfx)) <= 10
        |    AND levenshtein(a.pfx, b.pfx) <= 10
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b AS src, id_a AS dst FROM p
        |), lbl(id, l) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, lbl.l FROM lbl JOIN e ON lbl.id = e.src
        |), cc AS (
        |  SELECT id, min(l) AS cluster_id FROM lbl GROUP BY id
        |), assigned AS (
        |  SELECT doc_id, coalesce(cc.cluster_id, doc_id) AS cluster_id
        |  FROM documents LEFT JOIN cc ON doc_id = cc.id
        |), sizes AS (
        |  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM assigned GROUP BY 1
        |)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars, s.cluster_size
        |FROM documents d JOIN assigned a USING (doc_id) JOIN sizes s USING (cluster_id)
        |WHERE d.doc_id = a.cluster_id""".stripMargin,
    "q59_fuzzy_lsh" ->
      """WITH t AS (
        |  SELECT doc_id, substring(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 80) AS pfx
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.pfx, b.pfx)::BIGINT AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.pfx) - length(b.pfx)) <= 10
        |  AND levenshtein(a.pfx, b.pfx) <= 10""".stripMargin,
    "q57_tfidf_topterms" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS n FROM t GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, sum(n) AS dlen FROM tf GROUP BY 1
        |), dfq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), nd AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.n, dfq.df,
        |    floor((tf.n::DOUBLE / dl.dlen) * (ln((nd.n_docs + 1)::DOUBLE / (dfq.df + 1)) + 1)*10000 + 0.5)/10000 AS tfidf_r
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN nd
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_r DESC, term) AS rnk FROM s
        |)
        |SELECT doc_id, term, n, df, tfidf_r, rnk::BIGINT AS rnk FROM r WHERE rnk <= 5""".stripMargin,
    "q58_vocab_top100" ->
      """SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_n
        |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |      FROM documents)
        |GROUP BY term
        |ORDER BY df DESC, term
        |LIMIT 100""".stripMargin,
    "q51_pivot" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity::DECIMAL(18,2) END)::DOUBLE AS qty_f,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity::DECIMAL(18,2) END)::DOUBLE AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q52_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin,
    "q53_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  grouping(l_returnflag, l_linestatus)::BIGINT AS gid,
        |  count(*) AS n_rows,
        |  floor(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE*100 + 0.5)/100 AS sum_price
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q54_window_battery" ->
      """SELECT event_id, event_type,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  nth_value(value, 3) OVER (PARTITION BY event_type ORDER BY ts::TIMESTAMP, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_val,
        |  lead(value, 1) OVER w AS next_val,
        |  lag(value, 1) OVER w AS prev_val
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts::TIMESTAMP, event_id)""".stripMargin,
    "q55_gapfill_locf" ->
      """WITH pb AS (
        |  SELECT event_type, bin, value AS v_obs FROM (
        |    SELECT event_type, date_trunc('minute', ts::TIMESTAMP) AS bin, value,
        |      row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts::TIMESTAMP)
        |        ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn
        |    FROM events WHERE value IS NOT NULL)
        |  WHERE rn = 1
        |), sp AS (
        |  SELECT event_type, min(bin) AS t0, max(bin) AS t1 FROM pb GROUP BY 1
        |), grid AS (
        |  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS bin FROM sp
        |)
        |SELECT g.event_type, epoch_us(g.bin) AS bin_us,
        |  last_value(pb.v_obs IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  pb.v_obs IS NOT NULL AS is_observed
        |FROM grid g LEFT JOIN pb ON g.event_type = pb.event_type AND g.bin = pb.bin""".stripMargin,
    "q56_fuzzy_editdist" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars // 50 AS lb,
        |    substring(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 80) AS pfx
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.pfx, b.pfx)::BIGINT AS dist
        |FROM t a JOIN t b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
        |WHERE abs(length(a.pfx) - length(b.pfx)) <= 10
        |  AND levenshtein(a.pfx, b.pfx) <= 10""".stripMargin
  )

  // q215's output is exactly q211's (the hash never reaches the
  // output — the q194/q195 declared-hashed-twin convention), so the
  // string twin's oracle replays it verbatim.
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "q215_textrank_hashed" -> oracleSqlBase("q211_textrank")
  )
}
