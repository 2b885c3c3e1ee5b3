package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale corpus curation: exact
  * (hash-groupBy), pairwise n-gram/token Jaccard (the quadratic
  * baseline), MinHash+LSH (the linear-ish scale path), and SimHash
  * with banded Hamming join.
  *
  * Everything is built from codegen'd built-ins (xxhash64, HOFs) — no
  * UDFs — so signatures compute map-side with no shuffle until the
  * bucket groupBy. North-star extension; no reference counterpart.
  */
object NearDup {

  /** Exact dedup by content hash: one survivor (min id) per distinct
    * hash key; dupe count kept for audit. Pass `md5(text)` for raw
    * exact dedup or `TextAnalysis.fingerprint` for normalized dedup. */
  def exactByHash(df: DataFrame, idCol: Column, hashCol: Column): DataFrame =
    df.groupBy(hashCol.as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Distinct-token-set Jaccard similarity between two already-distinct
    * token arrays. Integer-count ratio — bitwise deterministic
    * cross-engine. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  /** Quadratic candidate generation within `blockCol` blocks (e.g.
    * language): all (a<b) pairs with token-set Jaccard >= threshold.
    * The honest baseline — O(n²) per block; use minHashPairs at scale. */
  def jaccardPairs(df: DataFrame, idCol: String, tokens: Column, blockCol: String, threshold: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(blockCol).as("blk"), array_distinct(tokens).as("toks"))
    val a = t.select(col("id").as("id_a"), col("blk"), col("toks").as("toks_a"))
    val b = t.select(col("id").as("id_b"), col("blk"), col("toks").as("toks_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Within-bucket candidate pairs, generated map-side: one groupBy
    * collects each (band, band_key) bucket's members (id + a numeric
    * payload for the pair filter), oversized buckets are dropped by
    * the cap, and the quadratic within-bucket pairing runs as a
    * nested-HOF expansion over the collected array — no self-join.
    * The previous shape (count-per-bucket agg + filter-join back +
    * banded⋈banded self-join) shuffled the banded table three times;
    * this shuffles it ONCE, and the cap bounds both the per-group
    * array (≤ maxBucketSize entries) and the expansion's quadratic
    * cost. `pairCond` sees structs `a`/`b` with fields (set_id,
    * `payload`); `a.set_id < b.set_id` is always applied. */
  private def bucketPairs(banded: DataFrame, payload: String, maxBucketSize: Int,
                          pairCond: String, carryPayload: Boolean = false): DataFrame = {
    val emit =
      if (carryPayload)
        s"struct(a.set_id AS set_a, b.set_id AS set_b, a.$payload AS pay_a, b.$payload AS pay_b)"
      else "struct(a.set_id AS set_a, b.set_id AS set_b)"
    val outCols =
      if (carryPayload) Seq(col("p.set_a"), col("p.set_b"), col("p.pay_a"), col("p.pay_b"))
      else Seq(col("p.set_a"), col("p.set_b"))
    banded.groupBy(col("band"), col("band_key"))
      .agg(collect_list(struct(col("set_id"), col(payload))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucketSize))
      // Round-17 (guide §2.5; the verifyEditDistance precedent): the
      // collected-bucket table is BYTE-small — AQE's size-based
      // coalescing folds the agg's shuffle read to 1-2 partitions —
      // but the expansion below is the family's quadratic CPU step
      // (|bucket|² interpreted-HOF evals per bucket): measured 42 s
      // of exec pinned on 2 tasks at sf0.1 (23 s wall on an idle
      // 32-core session). An explicit repartition pins CPU
      // parallelism; its exchange carries the bucket table once —
      // bounded by the expansion's INPUT, negligible against the
      // pair output it unblocks.
      .repartition(banded.sparkSession.sparkContext.defaultParallelism)
      .select(explode(expr(
        "flatten(transform(ms, a -> transform(" +
          s"filter(ms, b -> b.set_id > a.set_id AND ($pairCond)), " +
          s"b -> $emit)))")).as("p"))
      .select(outCols: _*)
      .distinct() // a pair can collide in several bands
  }

  /** Test-only visibility for [[bucketPairs]] (plan-shape audit). */
  private[graft] def bucketPairsForTest(banded: DataFrame, payload: String,
                                        maxBucketSize: Int, pairCond: String): DataFrame =
    bucketPairs(banded, payload, maxBucketSize, pairCond)

  /** Edit-distance (Levenshtein) fuzzy pairs within blocks — the
    * dedup notion Jaccard misses: small in-place character edits
    * (typos, OCR noise) barely move the edit distance while renaming
    * enough tokens to sink set overlap. Levenshtein is O(len²) PER
    * PAIR, so it is strictly a verify step: block first (`blockCols`,
    * e.g. language + length bucket — edit distance >= length gap, so
    * a length bucket is a sound-ish cut), compare a bounded
    * `prefixLen` of the text, and at scale put an LSH/fingerprint
    * candidate generator in front and reserve this as the verifier.
    * NOTE: pass ASCII-normalized text when the oracle matters —
    * DuckDB's levenshtein counts BYTES, Spark's counts codepoints. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: Column,
                        blockCols: Seq[Column], maxDist: Int, prefixLen: Int = 80): DataFrame = {
    val blkNames = blockCols.indices.map(i => s"__blk$i")
    val blk = blockCols.zip(blkNames).map { case (c, n) => c.as(n) }
    val t = df.select(col(idCol).as("id") +: substring(textCol, 1, prefixLen).as("pfx") +: blk: _*)
    val candidates = t.select(col("id").as("id_a") +: col("pfx").as("pfx_a") +: blkNames.map(col): _*)
      .join(t.select(col("id").as("id_b") +: col("pfx").as("pfx_b") +: blkNames.map(col): _*), blkNames)
      .filter(col("id_a") < col("id_b"))
      // cheap length cut before the quadratic DP: |len(a)-len(b)| is a
      // lower bound on edit distance
      .filter(abs(length(col("pfx_a")) - length(col("pfx_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"), col("pfx_a"), col("pfx_b"))
    verifyEditDistance(candidates, maxDist)
  }

  /** Shared verify stage for the fuzzy-dedup family: banded
    * Levenshtein over (id_a, id_b, pfx_a, pfx_b) candidates.
    *
    * The candidate table is BYTE-small but the DP is CPU-heavy:
    * size-based planning is the wrong cost model, so AQE coalesces
    * the candidate join output to ~1 partition and — worse — Catalyst
    * pushes a declarative `levenshtein <= d` filter INTO the join
    * condition, serializing the whole DP there (32s at sf0.1).
    * Explicit partition count pins CPU parallelism, and the typed
    * boundary is a real optimizer fence: no filter or project crosses
    * mapPartitions, so the DP provably runs in the repartitioned
    * stage. Inside, Spark's own banded DP (UTF8String
    * .levenshteinDistance with threshold — what SQL
    * levenshtein(l, r, t) compiles to) gives O(len*maxDist) with
    * early abandon instead of O(len²), and -1 signals "exceeded". */
  private def verifyEditDistance(candidates: DataFrame, maxDist: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.unsafe.types.UTF8String
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism)
      .select(col("id_a"), col("id_b"), col("pfx_a"), col("pfx_b"))
      .as(inEnc).mapPartitions { it =>
        it.flatMap { case (a, b, pa, pb) =>
          if (pa == null || pb == null) Iterator.empty
          else {
            val d = UTF8String.fromString(pa).levenshteinDistance(UTF8String.fromString(pb), maxDist)
            if (d >= 0) Iterator.single((a, b, d.toLong)) else Iterator.empty
          }
        }
      }(outEnc).toDF("id_a", "id_b", "dist")
  }

  /** LSH-fronted fuzzy dedup — the 100 TB form of editDistancePairs:
    * character-3-gram MinHash over the normalized prefix generates
    * candidates (near-linear), the banded DP verifies them exactly.
    * Identical prefixes are canonicalized to ONE node first (grouped
    * by prefix hash), so bulk duplication collapses before the LSH —
    * the same set-granular move as minHashSetPairs. dist-0 pairs from
    * identical-prefix groups are emitted directly without a DP.
    *
    * Candidate recall is probabilistic: edits at distance d destroy at
    * most 3d of the prefix's char-3-grams, so jaccard >=
    * (L-1-6d)/(L-1+3d) for prefix length L. The default geometry
    * (16 bands × 6 rows) was chosen by measurement against two
    * regimes: it recalls j≈0.86 pairs (2 random edits on random
    * 80-char text — the spec's planted worst case) at 99.97% per
    * pair, reproduces the brute-force pairs EXACTLY on both test
    * corpora (0 missing / 0 spurious at sf0.01 and sf0.1, measured
    * 2026-08; q59's strict brute-force oracle row re-checks it at
    * sf0.01 on every Verify run, EditDistanceSpec the planted recall),
    * and generates ~5× fewer false candidates than the shallower
    * 16×4 banding on skew-gram text. Deeper rows-per-band (e.g.
    * 64/8) halve the candidates again but start missing the
    * j < 0.9 regime. The exact blocked form is the oracle baseline. */
  def editDistancePairsLsh(df: DataFrame, idCol: String, textCol: Column,
                           maxDist: Int, prefixLen: Int = 80,
                           numHashes: Int = 96, bands: Int = 16,
                           maxBucketSize: Int = 4096): DataFrame = {
    val (sets, setPairs) = editDistanceSetPairs(df, idCol, textCol, maxDist,
      prefixLen, numHashes, bands, maxBucketSize)
    // expand set pairs to doc pairs + dist-0 pairs within identical-pfx
    // sets. THIS step is the Θ(answer-size) floor a duplicated corpus
    // imposes on pair LISTING — clusters/survivors consumers should
    // stay at the set grain (editDistanceSetPairs + dedupAssignmentBySets)
    // where the output is linear in the corpus instead.
    val members = sets.select(explode(col("ids")).as("doc"), col("set_id"))
    val expanded = setPairs
      .join(members.select(col("set_id").as("set_a"), col("doc").as("doc_a")).hint("shuffle_hash"), Seq("set_a"))
      .join(members.select(col("set_id").as("set_b"), col("doc").as("doc_b")).hint("shuffle_hash"), Seq("set_b"))
      .select(least(col("doc_a"), col("doc_b")).as("id_a"),
        greatest(col("doc_a"), col("doc_b")).as("id_b"), col("dist"))
    val dupPairs = sets.filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, x -> transform(filter(ids, y -> y > x), y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"), lit(0L).as("dist"))
    // materialize BEFORE releasing the working tables it reads from
    // (same eager-handoff contract as minHashSetPairs: the returned
    // frame is persisted; callers own unpersisting it)
    val out = expanded.unionByName(dupPairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    sets.unpersist(blocking = false)
    setPairs.unpersist(blocking = false)
    out
  }

  /** The SET-GRANULAR stage of [[editDistancePairsLsh]] — the form a
    * clusters/survivors consumer wants at 100 TB. Returns
    * (sets, setPairs), both persisted (callers own the lifecycle):
    *
    *  - sets: one node per DISTINCT normalized prefix —
    *    (fp, set_id = min doc id, ids = sorted member doc ids, pfx,
    *    toks); bulk duplication collapses here, BEFORE the LSH;
    *  - setPairs: (set_a, set_b, dist) — verified banded-Levenshtein
    *    pairs BETWEEN distinct prefixes, dist in (0, maxDist].
    *
    * Output is linear in distinct content (≤ LSH candidate count),
    * never Θ(n²) in duplicate mass: a corpus of 1M copies of two
    * near-identical docs is 2 nodes and 1 edge here, vs ~5·10¹¹
    * expanded doc pairs from [[editDistancePairsLsh]]. Feed directly
    * to ConnectedComponents.dedupAssignmentBySets — within-set dist-0
    * connectivity is implied by set membership, so no dist-0 edges
    * are needed (or emitted). */
  def editDistanceSetPairs(df: DataFrame, idCol: String, textCol: Column,
                           maxDist: Int, prefixLen: Int = 80,
                           numHashes: Int = 96, bands: Int = 16,
                           maxBucketSize: Int = 4096): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val base = df.select(col(idCol).as("id"), substring(textCol, 1, prefixLen).as("pfx"))
      .filter(col("pfx").isNotNull)
    // canonicalize identical prefixes: one LSH node per distinct pfx.
    // The char-3-gram array (pre-hashed to longs) is computed HERE,
    // inside the persisted frame: minHashSignature duplicates its
    // token expression into every per-hash lambda, and higher-order
    // functions are excluded from Spark's subexpression elimination —
    // unmaterialized, the gram generation would re-run numHashes
    // times per row (5.3s -> 0.6s for this stage at sf0.1).
    val sets = base.groupBy(xxhash64(col("pfx")).as("fp"))
      .agg(min(col("id")).as("set_id"), sort_array(collect_list(col("id"))).as("ids"),
        first(col("pfx")).as("pfx"))
      .withColumn("toks",
        array_distinct(transform(sequence(lit(1), greatest(length(col("pfx")) - 2, lit(1))),
          i => xxhash64(call_function("substring", col("pfx"), i, lit(3))))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = sets.select(col("set_id"), length(col("pfx")).as("len"),
      minHashSignature(col("toks"), numHashes).as("sig"))
    // single consumer (bucketPairs) — no persist needed; the length
    // cut (a sound lower bound on edit distance) prunes inside the
    // bucket expansion before the pair ever exists
    val banded = sigs.select(
      col("set_id"), col("len"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)))
      .select(col("set_id"), col("len"), col("pos").as("band"), col("col").as("band_key"))
    val candPairs = bucketPairs(banded, "len", maxBucketSize,
      s"abs(a.len - b.len) <= $maxDist")
    // the candidate pair table is the BIG side (candidate count is
    // quadratic-in-bucket, ~1e9 at the 100x probe) and it needs no
    // order: SHUFFLE_HASH on the set-table side builds per-partition
    // hash maps of the (bounded) prefix/member slices and STREAMS the
    // pairs — a sort-merge join would sort the 1e9-row side TWICE per
    // attachment, and those sorts were the probe's entire 54.7 GB
    // spill (measured: 820 s / 54.7 GB spill SMJ -> see BASELINE for
    // the SHJ number; values identical, plan-only change)
    val pfxBySet = sets.select(col("set_id"), col("pfx"))
    val candidates = candPairs
      .join(pfxBySet.select(col("set_id").as("set_a"), col("pfx").as("pfx_a")).hint("shuffle_hash"), Seq("set_a"))
      .join(pfxBySet.select(col("set_id").as("set_b"), col("pfx").as("pfx_b")).hint("shuffle_hash"), Seq("set_b"))
      .select(col("set_a").as("id_a"), col("set_b").as("id_b"), col("pfx_a"), col("pfx_b"))
    val setPairs = verifyEditDistance(candidates, maxDist)
      .select(col("id_a").as("set_a"), col("id_b").as("set_b"), col("dist"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round-17 (guide §2.6): no eager count here — the former
    // materializing count() was a full extra job barrier per caller.
    // Lazy persistence is safe: nothing is unpersisted before the
    // caller's first action (which populates both caches), and
    // callers that DO unpersist (editDistancePairsLsh) materialize
    // their own output first.
    (sets, setPairs)
  }

  /** MinHash signature: `numHashes` permutations approximated by
    * seeded xxhash64 over each token; sig[i] = min hash. Computed
    * map-side by the one-pass codegen'd [[MinHashSigExpr]] (bitwise
    * identical to [[minHashSignatureHof]], ~40× faster at n=64). */
  def minHashSignature(tokens: Column, numHashes: Int): Column =
    MinHashSig.column(tokens, numHashes)

  /** Reference HOF formulation of [[minHashSignature]] — kept as the
    * equivalence-spec baseline for [[MinHashSigExpr]]. */
  def minHashSignatureHof(tokens: Column, numHashes: Int): Column = {
    val distinctToks = array_distinct(tokens)
    array((0 until numHashes).map { i =>
      array_min(transform(distinctToks, t => xxhash64(lit(i), t)))
    }: _*)
  }

  /** MinHash + LSH banding: signature of `numHashes` minhashes split
    * into `bands` bands; docs sharing any band key become candidates;
    * candidates are verified with exact token-set Jaccard.
    *
    * Scale design (each step exists to kill a quadratic blow-up):
    *  1. CANONICALIZE: docs are grouped by exact (sorted distinct)
    *     token set first — keyed on a 128-bit FINGERPRINT of the set
    *     (two independent xxhash64 views), so the exchange key is 16
    *     bytes, never the token array itself. Identical sets pair at
    *     jaccard 1.0 without ever entering LSH — exact-dup mass is
    *     the worst LSH pathology, and corpora at 100 TB always carry
    *     it. Token arrays live in exactly ONE table (`sets`), joined
    *     downstream by int `set_id`.
    *  2. LSH runs over unique sets only: map-side HOF signatures ->
    *     explode(bands) -> shuffle on band key -> within-bucket
    *     pairing of bare int ids (no token arrays in the shuffle) ->
    *     distinct on the int pair. Buckets larger than
    *     `maxBucketSize` are DROPPED before pairing: a band key
    *     shared by that many sets is a stop-word band whose pairs
    *     cost O(n^2) while any genuinely similar pair it contains
    *     collides again in one of the other bands; without the cap a
    *     single degenerate band key goes quadratic at scale.
    *  3. VERIFY: token arrays are attached back via a join and exact
    *     Jaccard filters false positives.
    *  4. EXPAND: surviving set pairs multiply out to doc pairs
    *     (minHashPairs only).
    *
    * This set-granular form returns (sets, verified set pairs) BEFORE
    * doc expansion — identical docs are one node. It is the right
    * input for clustering (ConnectedComponents): a k-document
    * identical set contributes one node instead of k(k-1)/2 expanded
    * edges. `sets` columns: set_id, ids, toks; `pairs` columns:
    * set_a, set_b, jaccard (distinct sets only).
    *
    * Both returned frames are persisted lazily (MEMORY_AND_DISK): the
    * caller's first action materializes them. Nothing is unpersisted
    * internally; callers own unpersisting both when done. */
  def minHashSetPairs(df: DataFrame, idCol: String, tokensCol: Column,
                      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8,
                      maxBucketSize: Int = 4096): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // tokens hash to sorted long arrays up front: cheaper minhash
    // (long rehash, not string), and verification becomes a
    // sorted-merge count (IntersectCount). Jaccard over hashed tokens
    // equals string jaccard up to 64-bit collisions (negligible).
    val t = df.select(col(idCol).as("id"),
      array_sort(transform(array_distinct(tokensCol), tk => xxhash64(tk))).as("toks"))
      .withColumn("fp1", xxhash64(col("toks")))
      .withColumn("fp2", xxhash64(lit(0x9e3779b9L), col("toks")))
    // `sets` and `banded` are each consumed by several downstream
    // branches. Catalyst prunes different column subsets into each
    // branch, the canonicalized subplans stop being equal, exchange
    // reuse never fires, and the whole scan+tokenize+hash (and 96-way
    // minhash) pipeline re-executes once PER BRANCH (9 scans in the
    // unpersisted plan). Persisting the two working tables — the same
    // move Spark ML's LSH/ALS make — computes each once;
    // MEMORY_AND_DISK spills rather than OOMs at scale.
    val sets = t.groupBy(col("fp1"), col("fp2"))
      .agg(min(col("id")).as("set_id"), sort_array(collect_list(col("id"))).as("ids"),
        first(col("toks")).as("toks"))
      .select(col("set_id"), col("ids"), col("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 2. LSH over unique sets, int-only candidate pairs. The set SIZE
    // rides along: jaccard >= t forces |A|/|B| in [t, 1/t] (J <=
    // min/max), so mismatched-size pairs are pruned before the
    // distinct — the size filter from the PPJoin family, and the
    // cheapest cut against LSH false positives.
    val sigs = sets.select(col("set_id"), size(col("toks")).as("sz"), col("toks"))
      .withColumn("sig", minHashSignature(col("toks"), numHashes))
    // single consumer (bucketPairs) — no persist needed. The size
    // filter from the PPJoin family (jaccard >= t forces |A|/|B| in
    // [t, 1/t]) prunes inside the bucket expansion, and the cap drops
    // oversized (stop-word) buckets before the quadratic pairing.
    val banded = sigs.select(
      col("set_id"), col("sz"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
      }: _*))
    ).select(col("set_id"), col("sz"), col("pos").as("band"), col("col").as("band_key"))
    val candidates = bucketPairs(banded, "sz", maxBucketSize,
      s"a.sz >= b.sz * $threshold AND b.sz >= a.sz * $threshold")

    // 3. verify with exact jaccard (token arrays re-attached)
    val toksBySet = sets.select(col("set_id"), col("toks"))
    val verified = candidates
      .join(toksBySet.select(col("set_id").as("set_a"), col("toks").as("toks_a")), Seq("set_a"))
      .join(toksBySet.select(col("set_id").as("set_b"), col("toks").as("toks_b")), Seq("set_b"))
      .withColumn("__i", IntersectCount.column(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("jaccard", col("__i") / (size(col("toks_a")) + size(col("toks_b")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("set_a"), col("set_b"), col("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round-17 (guide §2.6): both returned frames stay persisted but
    // are materialized LAZILY by the caller's first action — the
    // former eager count() was one full job barrier per caller (q22/
    // q47/q48/q67/q148/q149/...) that computed the verify pipeline
    // only for the next action to re-read it from cache. No internal
    // unpersist happens before the caller acts, so nothing recomputes.
    (sets, verified)
  }

  /** Incremental near-dup: pairs between a PROBE batch and an existing
    * CORPUS, never pairing corpus docs among themselves — the shape a
    * continuously-ingesting pipeline runs per batch. The corpus is
    * banded once (in production the band table is maintained
    * incrementally as a keyed table, not recomputed), the probe batch
    * is banded with the same geometry, candidates are the int-only
    * probe⋈corpus bucket collisions with the PPJoin size cut, and
    * exact jaccard verifies with token arrays re-attached from the
    * two (persisted) token tables. Work scales with
    * |probe| × bucket-collision rate — no corpus×corpus term, which is
    * what makes per-batch dedup affordable against a 100 TB corpus.
    * Default geometry 128 hashes / 32 bands (r=4): at threshold 0.8
    * the per-pair miss probability is (1-0.8⁴)³² ≈ 5e-8, low enough
    * that the probe output is measured EXACT against brute force even
    * on the sf0.1 corpus with ~530k boundary-heavy true pairs (24
    * bands missed one). The returned frame is persisted and
    * materialized; callers own unpersisting it. */
  def minHashProbePairs(corpus: DataFrame, probe: DataFrame, idCol: String, tokensCol: Column,
                        numHashes: Int = 128, bands: Int = 32,
                        threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    def prep(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      array_sort(transform(array_distinct(tokensCol), tk => xxhash64(tk))).as("toks"))
      .withColumn("sz", size(col("toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def band(df: DataFrame): DataFrame = df
      .withColumn("sig", minHashSignature(col("toks"), numHashes))
      .select(col("id"), col("sz"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
        }: _*)))
      .select(col("id"), col("sz"), col("pos").as("band"), col("col").as("band_key"))
    val c = prep(corpus)
    val p = prep(probe)
    val candidates = band(p)
      .select(col("band"), col("band_key"), col("id").as("probe_id"), col("sz").as("sz_p"))
      .join(band(c).select(col("band"), col("band_key"), col("id").as("corpus_id"), col("sz").as("sz_c")),
        Seq("band", "band_key"))
      .filter(col("sz_p") >= col("sz_c") * threshold && col("sz_c") >= col("sz_p") * threshold)
      .select(col("probe_id"), col("corpus_id"))
      .distinct()
    val out = candidates
      .join(p.select(col("id").as("probe_id"), col("toks").as("toks_p")), Seq("probe_id"))
      .join(c.select(col("id").as("corpus_id"), col("toks").as("toks_c")), Seq("corpus_id"))
      .withColumn("__i", IntersectCount.column(col("toks_p"), col("toks_c")).cast("double"))
      .withColumn("jaccard", col("__i") / (size(col("toks_p")) + size(col("toks_c")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("probe_id"), col("corpus_id"), col("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    p.unpersist(blocking = false)
    c.unpersist(blocking = false)
    out
  }

  /** MinHash near-dup DOC pairs (see minHashSetPairs for the steps):
    * identical-set doc pairs at jaccard 1.0 plus the verified distinct
    * set pairs expanded to doc granularity. */
  def minHashPairs(df: DataFrame, idCol: String, tokensCol: Column,
                   numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8,
                   maxBucketSize: Int = 4096): DataFrame = {
    val (sets, verified) = minHashSetPairs(df, idCol, tokensCol, numHashes, bands, threshold, maxBucketSize)

    // identical-set doc pairs: jaccard exactly 1.0. (A repartition
    // before these explodes was A/B-measured and REJECTED in r17:
    // the doc-pair expansion re-runs per consumer action over the
    // cached set tables, and the added exchange cost more than the
    // parallelism bought at every SF tried; a single giant identical
    // set is one ROW, which no repartition can split anyway.)
    val dupPairs = sets
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, x -> transform(filter(ids, y -> y > x), " +
          "y -> named_struct('id_a', x, 'id_b', y))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b"), lit(1.0).as("jaccard"))

    // expand set pairs to doc pairs
    val idsBySet = sets.select(col("set_id"), col("ids"))
    val expanded = verified
      .join(idsBySet.select(col("set_id").as("set_a"), col("ids").as("ids_a")), Seq("set_a"))
      .join(idsBySet.select(col("set_id").as("set_b"), col("ids").as("ids_b")), Seq("set_b"))
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("jaccard"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("jaccard"))
      .select(least(col("x"), col("y")).as("id_a"), greatest(col("x"), col("y")).as("id_b"), col("jaccard"))

    dupPairs.unionByName(expanded)
  }

  /** 64-bit SimHash over the token multiset: bit j of the hash is the
    * sign of sum_t (bit_j(hashFn(t)) ? +1 : -1).
    *
    * Shape: one explode to token rows, then 64 conditional sums in a
    * single hash aggregate — partial aggregation keeps the shuffle at
    * one 64-column row per doc (vs exploding tokens x 64 bit rows,
    * which shuffles 64x the data).
    *
    * `hashFn` defaults to xxhash64 (fastest); pass
    * [[NearDup.md5TokenHash]] for a token hash every engine computes
    * identically, which makes the WHOLE simhash pipeline replayable
    * in ANSI SQL (q23's strict oracle). */
  def simHash(df: DataFrame, idCol: String, tokensCol: Column,
              hashFn: Column => Column = xxhash64(_)): DataFrame =
    df.select(col(idCol).as("id"), explode(tokensCol).as("tok"))
      .withColumn("h", hashFn(col("tok")))
      .groupBy(col("id"))
      .agg(SimHashAgg.column(col("h")).as("simhash"))

  /** Cross-engine-exact 60-bit token hash: the first 15 hex digits of
    * md5, as a long. md5 is bit-identical in every engine, so unlike
    * xxhash64 (whose seed/implementation is engine-internal) this
    * hash — and everything derived from it — replays in SQL:
    * `('0x' || substr(md5(t), 1, 15))::BIGINT`. The top 4 bits are
    * constant 0 (a -n vote: those simhash bits read 0 for every doc,
    * costing nothing in Hamming discrimination). */
  def md5TokenHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** Reference 64-aggregate formulation of [[simHash]] — kept as the
    * equivalence-spec baseline for [[SimHashAgg]] (64 separate
    * `sum(when(bit, +1, -1))` buffers; multi-second codegen compile
    * and a 64-buffer update per row, but trivially auditable). */
  def simHashWide(df: DataFrame, idCol: String, tokensCol: Column): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(tokensCol).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, lit(1)).otherwise(lit(-1))).as(s"b$j")
    }
    toks.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      // assemble the 64-bit value: sum of 2^j for positive bit sums
      // (distinct powers -> exact; bit 63 lands in the sign bit, which
      // is fine — simhash is a bit pattern, not a magnitude)
      .select(col("id"),
        (0 until 64).map { j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** Embedding-cosine near-duplicates: all (a<b) pairs with cosine >=
    * threshold. The exact quadratic baseline — use for candidate
    * verification and small corpora; `embeddingPairsLsh` is the scale
    * path. Norms precomputed per row; double HOF arithmetic is
    * bitwise-deterministic (oracle-comparable). */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
    val a = t.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = t.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Scale path: multi-table sign-random-projection LSH. Each of
    * `tables` independent SRP hash tables buckets the vectors; a pair
    * is a candidate if it collides in ANY table (recall compounds as
    * 1-(1-p^nBits)^tables), candidates dedupe as int pairs, and exact
    * cosine verifies. nBits trades bucket size vs per-table recall;
    * more tables buys recall linearly in cost. */
  def embeddingPairsLsh(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
                        nBits: Int = 8, dim: Int = 64, tables: Int = 4,
                        bucketFn: (org.apache.spark.sql.Column, Int, Int, Int) => org.apache.spark.sql.Column =
                          Similarity.srpBucket(_, _, _, _)): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
    val banded = t.select(col("id"),
      posexplode(array((0 until tables).map(tb => bucketFn(col("v"), nBits, dim, tb)): _*)))
      .select(col("id"), col("pos").as("tbl"), col("col").as("bkt"))
    val candidates = banded.select(col("tbl"), col("bkt"), col("id").as("id_a"))
      .join(banded.select(col("tbl"), col("bkt"), col("id").as("id_b")), Seq("tbl", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(t.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), Seq("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist, using
    * 4x16-bit band join (pigeonhole: hd<=3 implies at least one equal
    * 16-bit chunk) instead of an all-pairs scan. */
  def simHashPairs(sim: DataFrame, maxDist: Int = 3, maxBucketSize: Int = 4096): DataFrame = {
    // pigeonhole banding: hamming <= 3 over 64 bits forces at least
    // one of the four 16-bit chunks to match exactly. Candidate
    // generation is the same single-shuffle bucketPairs as the MinHash
    // family; the hamming filter runs INSIDE the bucket expansion, so
    // only true near-pairs reach the distinct.
    //
    // Unlike the MinHash paths, an oversized bucket cannot simply be
    // DROPPED: with only 4 chunks there is no redundancy guarantee
    // that a dropped bucket's pairs collide elsewhere, and with 65536
    // values per chunk hot buckets grow linearly with corpus size —
    // an uncapped collect_list is a single unspillable ObjectHash
    // buffer (executor OOM at scale). Buckets over `maxBucketSize`
    // therefore fall back to a shuffle-join self-pairing: identical
    // pairs, streamed through SortMergeJoin instead of buffered. The
    // split itself is cheap — bucket sizes live in a <=4x65536-row
    // aggregate, broadcast onto the banded table.
    val banded = sim.select(
      col("id").as("set_id"), col("simhash").as("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
    ).select(col("set_id"), col("sim"), col("pos").as("band"), col("col").as("band_key"))
    val sizes = banded.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("__n"))
    val withN = banded.join(broadcast(sizes), Seq("band", "band_key"))
    val small = withN.filter(col("__n") <= maxBucketSize).drop("__n")
    val big = withN.filter(col("__n") > maxBucketSize).drop("__n")
    val smallPairs = bucketPairs(small, "sim", maxBucketSize,
      s"bit_count(a.sim ^ b.sim) <= $maxDist", carryPayload = true)
      .select(col("set_a").as("id_a"), col("set_b").as("id_b"),
        bit_count(col("pay_a").bitwiseXOR(col("pay_b"))).cast("int").as("hamming"))
    val bigPairs = big
      .select(col("band"), col("band_key"), col("set_id").as("id_a"), col("sim").as("sim_a"))
      .join(big.select(col("band"), col("band_key"),
        col("set_id").as("id_b"), col("sim").as("sim_b")), Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b")
        && bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int").as("hamming"))
    // a pair can collide in a small bucket on one chunk and a big one
    // on another — dedup across the union, not just within each path
    smallPairs.unionByName(bigPairs).distinct()
  }
}
